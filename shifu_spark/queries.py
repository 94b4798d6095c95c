"""Query registry — every SURVEY §2 operator exposed as a (spark, sf_dir) ->
DataFrame callable plus a matching DuckDB oracle SQL string.

Registration happens via the @query decorator; __spark_entry__.py re-exports
QUERIES / ORACLES as its query contract, and bench.py reads each query's
pipeline stage from STAGES.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shifu_spark.session import local_frame, snapshot

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
#: query name -> the bench stage its time is attributed to
STAGES: dict[str, str] = {}

#: the pipeline stages bench.py totals per-query time into: Shifu's
#: stats / norm / train / eval, relational queries, and the
#: training-data families; streaming keeps its own stage because its
#: times include trigger and sink machinery
BENCH_STAGES = frozenset({
    "query", "stats", "norm", "train", "eval",
    "text", "dedup", "similarity", "multimodal", "streaming",
})


def query(name: str, oracle: str | None = None, *, stage: str):
    if stage not in BENCH_STAGES:
        raise ValueError(
            f"query {name!r}: unknown stage {stage!r}, expected one of {sorted(BENCH_STAGES)}"
        )

    def deco(fn):
        QUERIES[name] = fn
        STAGES[name] = stage
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# The canonical dataset the driver's correctness gate compares at.  Any
# oracle that must read data at registration time (e.g. to fit the same
# bounded training sample the Spark side fits) derives its path from
# THIS symbol so the coupling is explicit in one place (ADVICE r4).
GATE_SF_DIR = "/root/testdata/sf0.01"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


#: every embedding in the synthetic corpus (and every query below) is
#: this dimensionality; the ingest validator pins it
EMB_DIM = 64


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings scan with INGEST VALIDATION: malformed vectors (NULL,
    wrong dimensionality, NaN/Inf/NULL components) are excluded at the
    scan. One bad row otherwise kills a corpus-scale ANN job — the r10
    dirty-embeddings audit crashed all 14 embedding queries on a single
    ragged/NaN vector. The oracle side applies the same predicate via
    the `_guard_embedding_oracles` post-pass, so both engines score the
    identical vector population."""
    from shifu_spark.operators.similarity import valid_vector_expr

    return _t(spark, sf_dir, "embeddings").where(
        valid_vector_expr("embedding", EMB_DIM)
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents scan with the PRIMARY-KEY ingest contract: doc_id is
    the corpus key, and a NULL-id row is relationally unaddressable —
    two id-less docs cannot be told apart by any id-keyed join, window
    or dedup group, so no oracle (or downstream consumer) can re-key
    them. Excluded at the scan on both engines (the documents analogue
    of _emb's vector validation; `_guard_documents_oracles` mirrors)."""
    return _t(spark, sf_dir, "documents").where(F.col("doc_id").isNotNull())


def _materialize_release(out: DataFrame, caches: list[DataFrame]) -> DataFrame:
    """Materialize ``out`` on the executors (localCheckpoint, eager) so the
    upstream ``caches`` can be unpersisted, WITHOUT collecting to the
    driver. Near-dup pair counts are data-dependent and unbounded on a
    dup-heavy corpus, so the previous collect()-then-createDataFrame
    finalize was a driver-OOM risk in exactly the family framed as the
    at-scale dedup path (ADVICE r3). localCheckpoint truncates the
    lineage, so the checkpointed frame no longer references the caches."""
    try:
        return out.localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table with its ts column normalized to TIMESTAMP (UTC session).

    The driver has shipped this file with three physical ts encodings
    across rounds: TIMESTAMP(NANOS) (Spark 4 rejects it unless read as
    long via the legacy conf — then ns -> µs by exact integer division),
    TIMESTAMP_NTZ micros, and plain TIMESTAMP. Normalize all three so
    every downstream query (batch windows, streaming watermarks — which
    reject NTZ) sees one type; the session is pinned UTC so the
    NTZ->TIMESTAMP cast preserves the wall-clock instant."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    dt = dict(ev.dtypes)["ts"]
    if dt == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dt == "timestamp_ntz":
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return ev


# ---------------------------------------------------------------------------
# Scans / filters / aggregations (SURVEY §2.1, §2.2, §2.4)
# ---------------------------------------------------------------------------

# sums accumulate as DECIMAL(38,10) on both sides: exact and
# order-independent, so the rounded doubles are bit-identical across
# engines (double sums drift in the last ulp with partition order)
_Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       round(sum(cast(l_quantity AS DECIMAL(38,10)))::DOUBLE, 4) AS sum_qty,
       round(sum(cast(l_extendedprice AS DECIMAL(38,10)))::DOUBLE, 4) AS sum_base_price,
       round(sum(cast(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10)))::DOUBLE, 4) AS sum_disc_price,
       round(sum(cast(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,10)))::DOUBLE, 4) AS sum_charge,
       round(sum(cast(l_quantity AS DECIMAL(38,10)))::DOUBLE / count(*), 6) AS avg_qty,
       round(sum(cast(l_extendedprice AS DECIMAL(38,10)))::DOUBLE / count(*), 6) AS avg_price,
       round(sum(cast(l_discount AS DECIMAL(38,10)))::DOUBLE / count(*), 6) AS avg_disc,
       count(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@query("tpch_q1", _Q1_ORACLE, stage="query")
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary: the flagship scan→filter→groupBy→agg.

    Catalyst pushes the shipdate filter and the 7-column projection into
    the parquet scan; partial aggregation bounds the shuffle at
    (#groups × #tasks) rows regardless of data size.
    """
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))

    def dsum(e):
        return F.sum(e.cast("decimal(38,10)")).cast("double")

    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(dsum(F.col("l_quantity")), 4).alias("sum_qty"),
            F.round(dsum(F.col("l_extendedprice")), 4).alias("sum_base_price"),
            F.round(dsum(disc_price), 4).alias("sum_disc_price"),
            F.round(dsum(disc_price * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
            F.round(dsum(F.col("l_quantity")) / n, 6).alias("avg_qty"),
            F.round(dsum(F.col("l_extendedprice")) / n, 6).alias("avg_price"),
            F.round(dsum(F.col("l_discount")) / n, 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Column stats (SURVEY §2.4 — the `shifu stats` moment pass)
# ---------------------------------------------------------------------------

_STATS_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _stats_oracle() -> str:
    from shifu_spark.operators.stats import numeric_stats_oracle_sql

    return numeric_stats_oracle_sql("lineitem", _STATS_COLS) + "\nORDER BY column_name"


@query("column_stats", stage="stats")
def column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column moments/percentiles/distincts — one wide agg, one pass.

    Reference: UpdateBinningInfoMapper/Reducer power-sum accumulation +
    ColumnStatsCalculator NIST closed forms (see operators/stats.py).
    """
    from shifu_spark.operators.stats import numeric_stats_df

    li = _t(spark, sf_dir, "lineitem")
    return numeric_stats_df(li, _STATS_COLS).orderBy("column_name")


ORACLES["column_stats"] = _stats_oracle()


# ---------------------------------------------------------------------------
# Binning + KS/IV/WOE (SURVEY §2.4, §2.5)
# ---------------------------------------------------------------------------

_KSIV_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_KSIV_BINS = 10


def _value_min_max(df: DataFrame, c: str) -> DataFrame:
    """One-row (mn, mx) of column ``c`` over values only (is_value) — the
    edges binning.equal_interval_bin_expr needs."""
    from shifu_spark.functions.nonvalue import is_value

    x = F.col(c)
    return df.agg(F.min(F.when(is_value(x), x)).alias("mn"), F.max(F.when(is_value(x), x)).alias("mx"))


@query("ksiv_equal_interval", stage="stats")
def ksiv_equal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-interval binning + KS/IV/WOE, tag = (l_returnflag = 'R').

    Bins from binning.equal_interval_bin_expr with min/max from a
    broadcast single-row agg, so Spark and the oracle evaluate
    bit-identical double arithmetic.
    """
    from shifu_spark.functions.nonvalue import is_value
    from shifu_spark.operators.binning import equal_interval_bin_expr
    from shifu_spark.operators.ksiv import ksiv_df

    li = _t(spark, sf_dir, "lineitem")
    k = _KSIV_BINS

    # non-values go to the NULL bin, which both engines keep as its own group
    mm = li.agg(
        *[F.min(F.when(is_value(F.col(c)), F.col(c))).alias(f"{c}__mn") for c in _KSIV_COLS],
        *[F.max(F.when(is_value(F.col(c)), F.col(c))).alias(f"{c}__mx") for c in _KSIV_COLS],
    )
    with_mm = li.crossJoin(F.broadcast(mm))
    structs = []
    for c in _KSIV_COLS:
        b = equal_interval_bin_expr(F.col(c), F.col(f"{c}__mn"), F.col(f"{c}__mx"), k)
        structs.append(F.struct(F.lit(c).alias("column_name"), b.alias("bin")))
    is_pos = (F.col("l_returnflag") == "R").alias("_pos")
    melted = with_mm.select(F.explode(F.array(*structs)).alias("cb"), is_pos)
    counts = melted.groupBy(
        F.col("cb.column_name").alias("column_name"), F.col("cb.bin").alias("bin")
    ).agg(
        F.sum(F.when(F.col("_pos"), 1).otherwise(0)).alias("bin_count_pos"),
        F.sum(F.when(~F.col("_pos"), 1).otherwise(0)).alias("bin_count_neg"),
    )
    return ksiv_df(counts)


def _ksiv_oracle() -> str:
    from shifu_spark.operators.ksiv import ksiv_oracle_sql

    k = _KSIV_BINS
    per_col = []
    for c in _KSIV_COLS:
        per_col.append(
            f"""
SELECT '{c}' AS column_name,
       CASE WHEN {c} IS NULL OR NOT isfinite({c}) THEN NULL
            WHEN mx = mn THEN 0
            ELSE least(floor(({c} - mn) / ((mx - mn) / {k})), {k - 1}) END AS bin,
       sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS bin_count_pos,
       -- NULL tag counts in NEITHER class (the Spark side's ~_pos is
       -- three-valued; the reference filters invalid tags the same way)
       sum(CASE WHEN l_returnflag IS NOT NULL AND l_returnflag <> 'R' THEN 1 ELSE 0 END) AS bin_count_neg
FROM lineitem CROSS JOIN (SELECT min({c}) AS mn, max({c}) AS mx
                          FROM lineitem WHERE {c} IS NOT NULL AND isfinite({c}))
GROUP BY 1, 2"""
        )
    counts_sql = "\nUNION ALL\n".join(per_col)
    return ksiv_oracle_sql(counts_sql)


ORACLES["ksiv_equal_interval"] = _ksiv_oracle()


# ---------------------------------------------------------------------------
# Normalize (SURVEY §2.8 — `shifu norm` as pure column expressions)
# ---------------------------------------------------------------------------

_ZS_COLS = ["l_quantity", "l_extendedprice"]


@query("zscore_normalize", stage="norm")
def zscore_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZSCALE transform (Normalizer.java:426-470): clip at mean±6σ, scale.

    mean/std come from DECIMAL power sums in a broadcast 1-row agg, so the
    whole plan is one scan + one select — and bit-deterministic.
    """
    from shifu_spark.operators.normalize import zscore_sums_expr

    li = _t(spark, sf_dir, "lineitem")
    aggs = []
    for c in _ZS_COLS:
        v = F.col(c).cast("double")
        aggs += [
            F.count(v).alias(f"{c}__n"),
            F.sum(v.cast("decimal(38,10)")).cast("double").alias(f"{c}__s1"),
            F.sum((v * v).cast("decimal(38,10)")).cast("double").alias(f"{c}__s2"),
        ]
    mm = li.agg(*aggs)
    out_cols = [F.col("l_orderkey"), F.col("l_linenumber")]
    for c in _ZS_COLS:
        n, s1, s2 = F.col(f"{c}__n"), F.col(f"{c}__s1"), F.col(f"{c}__s2")
        out_cols.append(F.round(zscore_sums_expr(F.col(c).cast("double"), n, s1, s2), 6).alias(f"z_{c}"))
    return li.crossJoin(F.broadcast(mm)).select(*out_cols)


def _zscore_oracle() -> str:
    sel = ["l_orderkey", "l_linenumber"]
    stats = []
    for c in _ZS_COLS:
        stats.append(
            f"count({c})::DOUBLE AS {c}__n, sum(cast({c} AS DECIMAL(38,10)))::DOUBLE AS {c}__s1, "
            f"sum(cast({c}*{c} AS DECIMAL(38,10)))::DOUBLE AS {c}__s2"
        )
        mean = f"({c}__s1 / {c}__n)"
        std = f"sqrt(abs(({c}__s2 - {c}__s1*{c}__s1/{c}__n + 1e-10) / ({c}__n - 1)))"
        sel.append(
            f"round((least(greatest({c}, {mean} - 6*{std}), {mean} + 6*{std}) - {mean}) / {std}, 6) AS z_{c}"
        )
    return (
        "SELECT " + ",\n       ".join(sel) + "\nFROM lineitem CROSS JOIN (SELECT "
        + ", ".join(stats) + " FROM lineitem)"
    )


ORACLES["zscore_normalize"] = _zscore_oracle()


@query("woe_normalize", stage="norm")
def woe_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WOE transform (Normalizer.java:619-657): value -> bin -> bin woe.

    Equal-interval bins, non-values in the missing slot k; per-bin WOE
    from the count table (the ColumnStatsCalculator long[] formula with
    EPS=1e-10); woe mapped back by a broadcast join on bin id. Integer
    bin counts -> deterministic.
    """
    from shifu_spark.operators.binning import equal_interval_bin_expr
    from shifu_spark.operators.ksiv import woe_df

    li = _t(spark, sf_dir, "lineitem")
    k = 10
    binned = li.crossJoin(F.broadcast(_value_min_max(li, "l_quantity"))).withColumn(
        "bin", F.coalesce(equal_interval_bin_expr(F.col("l_quantity"), F.col("mn"), F.col("mx"), k), F.lit(k))
    )
    is_pos = F.col("l_returnflag") == "R"
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(is_pos, 1).otherwise(0)).alias("pos"),
        F.sum(F.when(is_pos, 0).otherwise(1)).alias("neg"),
    )
    woes = woe_df(counts, "pos", "neg").select("bin", "woe")
    return (
        binned.join(F.broadcast(woes), "bin")
        .select("l_orderkey", "l_linenumber", F.round(F.col("woe"), 6).alias("woe_l_quantity"))
    )


ORACLES["woe_normalize"] = """
WITH mm AS (SELECT min(l_quantity) AS mn, max(l_quantity) AS mx
            FROM lineitem WHERE l_quantity IS NOT NULL AND isfinite(l_quantity)),
binned AS (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN l_quantity IS NULL OR NOT isfinite(l_quantity) THEN 10
              WHEN mx = mn THEN 0
              ELSE least(floor((l_quantity - mn) / ((mx - mn) / 10)), 9) END AS bin,
         l_returnflag
  FROM lineitem CROSS JOIN mm
),
counts AS (
  SELECT bin,
         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::DOUBLE AS pos,
         sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)::DOUBLE AS neg
  FROM binned GROUP BY bin
),
woes AS (
  SELECT bin, ln((neg / sum(neg) OVER () + 1e-10) / (pos / sum(pos) OVER () + 1e-10)) AS woe
  FROM counts
)
SELECT b.l_orderkey, b.l_linenumber, round(w.woe, 6) AS woe_l_quantity
FROM binned b JOIN woes w USING (bin)
"""


# ---------------------------------------------------------------------------
# PSI (SURVEY §2.4 — PSI.pig / PSICalculatorUDF semantics) on events
# ---------------------------------------------------------------------------

@query("psi_events_by_day", stage="stats")
def psi_events_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI of `value` per day vs the overall distribution.

    Equal-interval 10 bins; expected = whole-table bin fractions; the
    PSI itself is psi.psi_df. NULL/NaN/±Inf values are MISSING (the
    engine-wide nonvalue class): they enter neither the min/max bounds
    nor either distribution.
    """
    from pyspark.sql import Window

    from shifu_spark.functions.nonvalue import is_value
    from shifu_spark.operators.binning import equal_interval_bin_expr
    from shifu_spark.operators.psi import psi_df

    ev = _events(spark, sf_dir).where(is_value(F.col("value")))
    mm = ev.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    binned = ev.crossJoin(F.broadcast(mm)).select(
        F.lit("value").alias("column_name"),
        F.date_format("ts", "yyyy-MM-dd").alias("unit"),
        equal_interval_bin_expr(F.col("value"), F.col("mn"), F.col("mx"), 10).alias("bin"),
    )
    actual = binned.groupBy("column_name", "unit", "bin").agg(F.count(F.lit(1)).alias("cnt"))
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    expected = (
        binned.groupBy("column_name", "bin").agg(F.count(F.lit(1)).alias("ecnt"))
        .select("column_name", "bin", (F.col("ecnt") / F.sum("ecnt").over(wall)).alias("expected_frac"))
    )
    return psi_df(actual, expected).select("unit", "psi")


ORACLES["psi_events_by_day"] = """
WITH ev AS (SELECT * FROM events WHERE value IS NOT NULL AND isfinite(value)),
mm AS (SELECT min(value) AS mn, max(value) AS mx FROM ev),
binned AS (  -- width 0 (all-equal column) => single bin 0
  SELECT strftime(ts, '%Y-%m-%d') AS unit,
         CASE WHEN mx = mn THEN 0
              ELSE least(floor((value - mn) / ((mx - mn) / 10)), 9) END AS bin
  FROM ev CROSS JOIN mm
),
actual AS (SELECT unit, bin, count(*)::DOUBLE AS cnt FROM binned GROUP BY unit, bin),
expected AS (SELECT bin, count(*)::DOUBLE / (SELECT count(*) FROM binned) AS expected_frac FROM binned GROUP BY bin),
j AS (
  SELECT a.unit, a.bin, a.cnt / sum(a.cnt) OVER (PARTITION BY a.unit) AS actual_frac, e.expected_frac
  FROM actual a JOIN expected e USING (bin)
)
SELECT unit,
       round(sum(CASE WHEN expected_frac > 0 AND actual_frac > 0
                      THEN (actual_frac - expected_frac) * ln(actual_frac / expected_frac)
                      ELSE 0 END), 6) AS psi
FROM j GROUP BY unit ORDER BY unit
"""


# ---------------------------------------------------------------------------
# Correlation matrix (SURVEY §2.4 — CorrelationMapper/Reducer semantics)
# ---------------------------------------------------------------------------

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@query("correlation_matrix", stage="stats")
def correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-complete Pearson from exact decimal co-moments — one wide agg."""
    from shifu_spark.operators.correlation import correlation_df

    return correlation_df(_t(spark, sf_dir, "lineitem"), _CORR_COLS)


def _corr_oracle() -> str:
    from shifu_spark.operators.correlation import correlation_oracle_sql

    return correlation_oracle_sql("lineitem", _CORR_COLS)


ORACLES["correlation_matrix"] = _corr_oracle()


# ---------------------------------------------------------------------------
# Eval metrics (SURVEY §2.6 — ConfusionMatrix / AreaUnderCurve)
# ---------------------------------------------------------------------------

@query("confusion_matrix_points", stage="eval")
def confusion_matrix_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative confusion matrix over score-desc order, one row per
    distinct score (ConfusionMatrix.java:276-520 as a window plan)."""
    from shifu_spark.operators.eval_metrics import confusion_points_df

    li = _t(spark, sf_dir, "lineitem")
    # cache_out: single materialization of the score points serves the
    # bounds collect and both prefix branches (r12, guide §1.2); the
    # checkpointed result releases the cache deterministically
    caches: list[DataFrame] = []
    pts = confusion_points_df(
        li, "l_extendedprice", F.col("l_returnflag") == "R", cache_out=caches
    )
    out = pts.select(
        "score", "tp", "fp", "fn", "tn",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("fpr", 6).alias("fpr"),
    )
    return _materialize_release(out, caches)


ORACLES["confusion_matrix_points"] = """
WITH pts AS (
  SELECT l_extendedprice AS score,
         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS pos,
         sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS neg
  -- unrankable (NULL/NaN/±Inf) scores are not eval points
  FROM lineitem WHERE l_extendedprice IS NOT NULL AND isfinite(l_extendedprice) GROUP BY 1
),
cum AS (
  SELECT score,
         sum(pos) OVER (ORDER BY score DESC) AS tp,
         sum(neg) OVER (ORDER BY score DESC) AS fp,
         sum(pos) OVER () AS tot_p,
         sum(neg) OVER () AS tot_n
  FROM pts
)
SELECT score, tp::BIGINT AS tp, fp::BIGINT AS fp,
       (tot_p - tp)::BIGINT AS fn, (tot_n - fp)::BIGINT AS tn,
       round(tp::DOUBLE / (tp + fp), 6) AS precision,
       round(tp::DOUBLE / tot_p, 6) AS recall,
       round(fp::DOUBLE / tot_n, 6) AS fpr
FROM cum
"""


@query("roc_auc", stage="eval")
def roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC (AreaUnderCurve.java:56-133). The Spark side is the
    tie-corrected trapezoid of eval_metrics.curve_metrics_df; the oracle
    stays in Mann-Whitney rank form, so the gate cross-checks two
    formulas for the same statistic."""
    from shifu_spark.operators.eval_metrics import curve_metrics_df

    li = _t(spark, sf_dir, "lineitem")
    return curve_metrics_df(li, "l_extendedprice", F.col("l_returnflag") == "R").select("auc")


ORACLES["roc_auc"] = """
WITH pts AS (
  SELECT l_extendedprice AS score, count(*) AS n,
         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS npos
  -- unrankable (NULL/NaN/±Inf) scores are not eval points
  FROM lineitem WHERE l_extendedprice IS NOT NULL AND isfinite(l_extendedprice) GROUP BY 1
),
ranked AS (
  SELECT n, npos,
         sum(n) OVER (ORDER BY score) - (n - 1) / 2.0 AS avg_rank,
         sum(npos) OVER () AS tot_p,
         sum(n) OVER () AS tot
  FROM pts
)
SELECT round((sum(avg_rank * npos) - any_value(tot_p) * (any_value(tot_p) + 1) / 2.0)
             / (any_value(tot_p) * (any_value(tot) - any_value(tot_p))), 6) AS auc
FROM ranked
"""


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.3 — combo/PigDataJoin) + broadcast join chain
# ---------------------------------------------------------------------------

@query("combo_score_join", stage="eval")
def combo_score_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Combo-model score assembly: 3 derived score tables inner-joined by
    uid, ensemble mean/max/min/median (PigDataJoin.java:45-133 +
    ScoreObject.java:35-74 aggregation)."""
    from shifu_spark.operators.join import combo_join

    o = _t(spark, sf_dir, "orders")
    t1 = o.filter(F.col("o_orderkey") % 97 != 0).select(F.col("o_orderkey").alias("uid"), F.col("o_totalprice").alias("score"))
    t2 = o.filter(F.col("o_orderkey") % 89 != 0).select(F.col("o_orderkey").alias("uid"), (F.col("o_totalprice") * 0.9 + 5.0).alias("score"))
    t3 = o.select(F.col("o_orderkey").alias("uid"), F.sqrt(F.col("o_totalprice")).alias("score"))
    j = combo_join([t1, t2, t3], "uid", ["m0", "m1", "m2"])
    s0, s1, s2 = F.col("m0_score"), F.col("m1_score"), F.col("m2_score")
    mx = F.greatest(s0, s1, s2)
    mn = F.least(s0, s1, s2)
    return j.select(
        "uid",
        F.round((s0 + s1 + s2) / 3.0, 6).alias("mean_score"),
        F.round(mx, 6).alias("max_score"),
        F.round(mn, 6).alias("min_score"),
        F.round(s0 + s1 + s2 - mx - mn, 6).alias("median_score"),
    )


ORACLES["combo_score_join"] = """
WITH t1 AS (SELECT o_orderkey AS uid, o_totalprice AS score FROM orders WHERE o_orderkey % 97 <> 0),
t2 AS (SELECT o_orderkey AS uid, o_totalprice * 0.9 + 5.0 AS score FROM orders WHERE o_orderkey % 89 <> 0),
t3 AS (SELECT o_orderkey AS uid, sqrt(o_totalprice) AS score FROM orders)
SELECT uid,
       round((t1.score + t2.score + t3.score) / 3.0, 6) AS mean_score,
       round(greatest(t1.score, t2.score, t3.score), 6) AS max_score,
       round(least(t1.score, t2.score, t3.score), 6) AS min_score,
       round(t1.score + t2.score + t3.score - greatest(t1.score, t2.score, t3.score) - least(t1.score, t2.score, t3.score), 6) AS median_score
FROM t1 JOIN t2 USING (uid) JOIN t3 USING (uid)
"""


@query("nation_revenue", stage="query")
def nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-join chain: lineitem⋈orders⋈customer⋈nation, revenue per
    nation. Dims are broadcast (no shuffle of the fact table beyond the
    final small agg)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(rev.cast("decimal(38,10)")).cast("double"), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("n_name")
    )


ORACLES["nation_revenue"] = """
SELECT n_name,
       round(sum(cast(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10)))::DOUBLE, 4) AS revenue,
       count(*)::BIGINT AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
"""


# ---------------------------------------------------------------------------
# Purify / unpivot / top-k (SURVEY §2.2, §2.6)
# ---------------------------------------------------------------------------

@query("purify_filter", stage="query")
def purify_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JEXL row filter translated to a pushed-down Catalyst predicate
    (DataPurifier.java:47-130 semantics via functions/jexl.py)."""
    from shifu_spark.operators.purify import purify

    li = _t(spark, sf_dir, "lineitem")
    return (
        purify(li, "l_quantity > 30 && l_returnflag == 'R' || l_discount >= 0.09")
        .groupBy("l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum(F.col("l_quantity").cast("decimal(38,10)")).cast("double"), 4).alias("sum_qty"))
        .orderBy("l_linestatus")
    )


ORACLES["purify_filter"] = """
SELECT l_linestatus, count(*)::BIGINT AS n,
       round(sum(cast(l_quantity AS DECIMAL(38,10)))::DOUBLE, 4) AS sum_qty
FROM lineitem
WHERE l_quantity > 30 AND l_returnflag = 'R' OR l_discount >= 0.09
GROUP BY l_linestatus ORDER BY l_linestatus
"""


@query("unpivot_column_totals", stage="query")
def unpivot_column_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row→column unpivot (AddColumnNumUDF semantics): melt 4 numeric
    columns into (column_name, value) then aggregate per column."""
    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    structs = [F.struct(F.lit(c).alias("column_name"), F.col(c).cast("double").alias("value")) for c in cols]
    melted = li.select(F.explode(F.array(*structs)).alias("cv")).select("cv.column_name", "cv.value")
    return (
        melted.groupBy("column_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(38,10)")).cast("double"), 4).alias("total"),
        )
        .orderBy("column_name")
    )


ORACLES["unpivot_column_totals"] = """
WITH melted AS (
  SELECT 'l_quantity' AS column_name, l_quantity AS value FROM lineitem
  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
  UNION ALL SELECT 'l_tax', l_tax FROM lineitem
)
SELECT column_name, count(*)::BIGINT AS n,
       round(sum(cast(value AS DECIMAL(38,10)))::DOUBLE, 4) AS total
FROM melted GROUP BY column_name ORDER BY column_name
"""


@query("topk_orders_per_priority", stage="query")
def topk_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by totalprice per priority — the top-N pattern of
    VarSelectReducer.java:114-226 as a row_number window (deterministic
    tie-break on o_orderkey)."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_orderpriority", "rk", "o_orderkey", F.round("o_totalprice", 4).alias("o_totalprice"))
        .orderBy("o_orderpriority", "rk")
    )


ORACLES["topk_orders_per_priority"] = """
SELECT o_orderpriority, rk, o_orderkey, round(o_totalprice, 4) AS o_totalprice
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders
)
WHERE rk <= 3 ORDER BY o_orderpriority, rk
"""


# ---------------------------------------------------------------------------
# LLM-data pipeline: dedup (BASELINE.json north star, first-class surface)
# ---------------------------------------------------------------------------

@query("exact_dedup", stage="dedup")
def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by md5 digest; canonical = min doc_id per group."""
    from shifu_spark.operators.dedup import exact_dedup_df

    return exact_dedup_df(_docs(spark, sf_dir)).orderBy("doc_id")


ORACLES["exact_dedup"] = """
SELECT doc_id, md5(text) AS digest,
       doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS is_canonical
FROM documents ORDER BY doc_id
"""


@query("shingleset_dedup", stage="dedup")
def shingleset_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup on the sorted distinct 3-gram shingle set digest — catches
    duplicates exact-text dedup misses."""
    from shifu_spark.operators.dedup import shingleset_dedup_df

    return shingleset_dedup_df(_docs(spark, sf_dir)).orderBy("doc_id")


ORACLES["shingleset_dedup"] = """
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                 i -> array_to_string(toks[i:i+2], ' ')))) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
),
digests AS (
  SELECT doc_id, md5(string_agg(s, chr(1) ORDER BY s)) AS digest
  FROM sh GROUP BY doc_id
)
SELECT doc_id, digest,
       doc_id = min(doc_id) OVER (PARTITION BY digest) AS is_canonical
FROM digests ORDER BY doc_id
"""


@query("ngram_jaccard_pairs", stage="dedup")
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs 3-gram Jaccard ≥ 0.5 near-dup pairs (exact verifier)."""
    from shifu_spark.operators.dedup import ngram_jaccard_pairs_df

    caches: list[DataFrame] = []
    out = ngram_jaccard_pairs_df(
        _docs(spark, sf_dir), n=3, threshold=0.5, cache_out=caches
    ).orderBy("doc_a", "doc_b")
    return _materialize_release(out, caches)


ORACLES["ngram_jaccard_pairs"] = """
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                 i -> array_to_string(toks[i:i+2], ' ')))) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
),
cnt AS (SELECT doc_id, count(*) ns FROM sh GROUP BY 1),
pairs AS (
  SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(inter::DOUBLE / (ca.ns + cb.ns - inter), 6) AS jaccard
FROM pairs JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
WHERE inter::DOUBLE / (ca.ns + cb.ns - inter) >= 0.5
ORDER BY doc_a, doc_b
"""


@query("minhash_lsh_pairs", stage="dedup")
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8 salted md5 hashes) + LSH(4 bands × 2) candidates,
    exact-Jaccard verified at ≥ 0.5 — the scale path for near-dup."""
    from shifu_spark.operators.dedup import minhash_lsh_pairs_df

    caches: list[DataFrame] = []
    out = minhash_lsh_pairs_df(
        _docs(spark, sf_dir), n=3, num_hashes=8, bands=4, threshold=0.5,
        cache_out=caches,
    ).orderBy("doc_a", "doc_b")
    return _materialize_release(out, caches)


ORACLES["minhash_lsh_pairs"] = """
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                 i -> array_to_string(toks[i:i+2], ' ')))) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
),
minh AS (
  SELECT doc_id, k, min(md5(k::VARCHAR || '|' || s)) AS minhash
  FROM sh CROSS JOIN generate_series(0, 7) g(k)
  GROUP BY doc_id, k
),
bands AS (
  SELECT doc_id, (k // 2)::INT AS band,
         md5(string_agg(minhash, '|' ORDER BY k)) AS band_key
  FROM minh GROUP BY doc_id, (k // 2)::INT
),
cands AS (
  SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
cnt AS (SELECT doc_id, count(*) ns FROM sh GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cands c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b,
       round(inter::DOUBLE / (ca.ns + cb.ns - inter), 6) AS jaccard
FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
WHERE inter::DOUBLE / (ca.ns + cb.ns - inter) >= 0.5
ORDER BY doc_a, doc_b
"""


@query("simhash_neardup_pairs", stage="dedup")
def simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(32-bit) hamming ≤ 3 pairs via 4-chunk pigeonhole LSH.

    Non-SQL-expressible in portable DuckDB (no base-16 conv) — covered by
    rows-only driver check + exact pytest golden (tests/test_dedup.py).
    """
    from shifu_spark.operators.dedup import simhash_candidate_pairs_df, simhash_df

    sim = simhash_df(_docs(spark, sf_dir))
    return simhash_candidate_pairs_df(sim, max_hamming=3).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# LLM-data pipeline: text analysis
# ---------------------------------------------------------------------------

@query("text_stats", stage="text")
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token counts, vocabulary diversity, quality score, lang-id."""
    from shifu_spark.operators.text import text_stats_df

    return text_stats_df(_docs(spark, sf_dir)).orderBy("doc_id")


ORACLES["text_stats"] = """
WITH t AS (
  SELECT doc_id, text,
         length(text) AS n_chars,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
         length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
         len(list_filter(string_split(lower(text), ' '), x -> list_contains(['the','a','of','and','to','in','is','that'], x))) AS c_en,
         len(list_filter(string_split(lower(text), ' '), x -> list_contains(['el','la','de','y','que','en','los','una'], x))) AS c_es,
         len(list_filter(string_split(lower(text), ' '), x -> list_contains(['le','la','et','les','des','un','une','est'], x))) AS c_fr,
         len(list_filter(string_split(lower(text), ' '), x -> list_contains(['der','die','das','und','ist','ein','nicht','mit'], x))) AS c_de
  FROM documents
)
SELECT doc_id, n_chars::INT AS n_chars, n_tokens::INT AS n_tokens,
       n_distinct_tokens::INT AS n_distinct_tokens,
       round(least(n_tokens / 100.0, 1.0) * 0.4
             + (1.0 - CASE WHEN n_chars = 0 THEN NULL
                           ELSE n_punct::DOUBLE / n_chars END) * 0.3
             + (n_distinct_tokens::DOUBLE / n_tokens) * 0.3, 6) AS quality,
       CASE WHEN text IS NULL THEN 'und'  -- NULL counts fall through every WHEN to 'de' otherwise
            WHEN greatest(c_fr, c_es, c_en, c_de) <= 0 THEN 'und'
            WHEN c_fr >= c_es AND c_fr >= c_en AND c_fr >= c_de THEN 'fr'
            WHEN c_es >= c_en AND c_es >= c_de THEN 'es'
            WHEN c_en >= c_de THEN 'en'
            ELSE 'de' END AS lang_pred
FROM t ORDER BY doc_id
"""


@query("doc_fingerprint", stage="text")
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content digest + 5-token-prefix blocking digest per doc."""
    from shifu_spark.operators.text import fingerprint_df

    return fingerprint_df(_docs(spark, sf_dir)).orderBy("doc_id")


ORACLES["doc_fingerprint"] = """
SELECT doc_id, md5(text) AS digest,
       md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS prefix_digest
FROM documents ORDER BY doc_id
"""


@query("token_count_by_source", stage="text")
def token_count_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting per source — whitespace + BPE-ish pieces."""
    from shifu_spark.operators.text import bpe_piece_count_expr, token_count_expr

    d = _docs(spark, sf_dir)
    return (
        d.select("source", token_count_expr("text").alias("nt"), bpe_piece_count_expr("text").alias("np"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("n_tokens"),
            F.sum("np").alias("n_pieces"),
        )
        .orderBy("source")
    )


ORACLES["token_count_by_source"] = """
SELECT source, count(*)::BIGINT AS n_docs,
       sum(len(string_split(text, ' ')))::BIGINT AS n_tokens,
       sum(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9 ]')))::BIGINT AS n_pieces
FROM documents GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# LLM-data pipeline: embedding similarity search
# ---------------------------------------------------------------------------

@query("embedding_topk", stage="similarity")
def embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for query vectors vec_id < 10.

    Dot product = sequential double fold (bit-identical to the oracle's
    list_dot_product); ties broken by neighbor_id.
    """
    from shifu_spark.operators.similarity import brute_force_topk_block

    emb = _emb(spark, sf_dir)
    return brute_force_topk_block(emb, F.col("vec_id") < 10, k=5)


ORACLES["embedding_topk"] = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_dot_product(q.qv, e.embedding::DOUBLE[]) /
         (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank::INT AS rank, neighbor_id, round(cosine, 6) AS cosine
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


@query("embedding_neardup_pairs", stage="similarity")
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (semantic dedup) at cosine ≥ 0.3."""
    from shifu_spark.operators.similarity import embedding_neardup_pairs_block

    return embedding_neardup_pairs_block(_emb(spark, sf_dir), threshold=0.3).orderBy("id_a", "id_b")


ORACLES["embedding_neardup_pairs"] = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
              sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
      (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
       sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.3
ORDER BY id_a, id_b
"""


def embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOY-WIDTH banded LSH (2 bands × 2 bits over quarter-sum planes,
    cosine ≥ 0.3) — DEMOTED to test-only in round 3 (VERDICT r2 "What's
    wrong #2": with 2-bit band values there are only 4 patterns per band,
    so each bucket holds ~N/4 of the corpus and the candidate join is
    near-quadratic). It exists purely as the differential mirror whose
    band-OR the tiny DuckDB oracle below can replicate literally;
    ``embedding_neardup_lsh_scale`` is the registered, 16-bit-band form."""
    from shifu_spark.operators.similarity import embedding_neardup_lsh_pairs

    return embedding_neardup_lsh_pairs(
        _emb(spark, sf_dir), _LSH_PLANES, bands=2, threshold=0.3
    ).orderBy("id_a", "id_b")


# mirror of the banded candidate generation: band0 = sign bits of quarter
# sums 1,2; band1 = quarters 3,4; pair is a candidate iff either band
# matches (the OR reproduces the Spark band-join ∪ exactly).
# Test-only since round 3 (tests/test_operators.py toy-LSH differential).
LSH_TOY_ORACLE = """
WITH b AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         (CASE WHEN list_sum((embedding::DOUBLE[])[1:16])  >= 0 THEN 1 ELSE 0 END
        + CASE WHEN list_sum((embedding::DOUBLE[])[17:32]) >= 0 THEN 2 ELSE 0 END) AS band0,
         (CASE WHEN list_sum((embedding::DOUBLE[])[33:48]) >= 0 THEN 1 ELSE 0 END
        + CASE WHEN list_sum((embedding::DOUBLE[])[49:64]) >= 0 THEN 2 ELSE 0 END) AS band1
  FROM embeddings
)
SELECT a.vec_id AS id_a, c.vec_id AS id_b,
       round(list_dot_product(a.v, c.v) /
             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
FROM b a JOIN b c
  ON a.vec_id < c.vec_id AND (a.band0 = c.band0 OR a.band1 = c.band1)
WHERE list_dot_product(a.v, c.v) /
      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))) >= 0.3
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# Scale-parameterized banded LSH (the registered production form)
# ---------------------------------------------------------------------------

def _lsh_scale_planes() -> list[list[float]]:
    """64 random ±1 hyperplanes (seeded, generated once at import).

    The oracle embeds the SAME literals, so both engines see identical
    planes; sign bits agree unless a dot product sits within float-
    summation noise of zero (the wide-plane path computes signs via a
    numpy matmul whose pairwise summation can differ from the oracle's
    sequential list_dot_product in the last ulps — similarity.py
    documents the trade; the VERIFIED cosine column always uses the
    sequential fold). 64 planes / 4 bands = 16 bits per band: at N docs
    a band bucket holds ~N/2^16, which is the parameterization that
    keeps the candidate join linear-ish at 100 TB (vs the toy 2-bit
    width whose buckets hold N/4)."""
    import numpy as np

    rng = np.random.RandomState(42)
    return [[1.0 if x >= 0.5 else -1.0 for x in row] for row in rng.rand(64, 64)]


_LSH_PLANES_SCALE = _lsh_scale_planes()

# deterministic planted near-dups: the fixture corpus has no cosine≥0.9
# pairs (max ≈0.51), so the scale query near-dups the corpus against a
# perturbed copy of itself — p[i] = v[i] + 0.05·v[(i+1) mod 64] gives
# cosine ≈0.9987-0.9989 per (original, copy) pair. Exact double
# arithmetic in the same order on both engines.
_LSH_PERTURB_SPARK = (
    "transform(embedding, (x, i) -> x + 0.05D * element_at(embedding, ((CAST(i AS INT) + 1) % 64) + 1))"
)


def _lsh_scale_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    pert = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.expr(_LSH_PERTURB_SPARK).alias("embedding"),
    )
    return emb.unionByName(pert)


@query("embedding_neardup_lsh_scale", stage="similarity")
def embedding_neardup_lsh_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded LSH embedding near-dup at the PRODUCTION parameterization:
    64 seeded ±1 hyperplanes → 4 bands × 16 bits, cosine ≥ 0.9, over the
    corpus ∪ its perturbed copy (500 planted pairs at sf0.01).

    16-bit bands ⇒ 2^16 patterns per band, so buckets stay tiny and the
    candidate join is O(matches), not O(N²) — on this corpus 536
    candidates out of ~500k possible pairs, recall 0.998 vs the exact
    kernel (pinned in tests/test_operators.py). The oracle replicates
    the full pipeline literally (same plane literals, same band-OR, same
    verify), so this is exact-checked, not recall-checked."""
    from shifu_spark.operators.similarity import embedding_neardup_lsh_pairs

    caches: list[DataFrame] = []
    out = embedding_neardup_lsh_pairs(
        _lsh_scale_corpus(spark, sf_dir),
        _LSH_PLANES_SCALE,
        bands=4,
        threshold=0.9,
        cache_out=caches,
    ).orderBy("id_a", "id_b")
    return _materialize_release(out, caches)


def _lsh_scale_oracle() -> str:
    """Generate the DuckDB mirror of the 64-plane banded pipeline —
    plane dots as list_dot_product against the same ±1 literals, band
    values via the same bit weights, candidate = OR over 4 bands,
    exact-cosine verify at the same threshold."""
    def dot(h: list[float]) -> str:
        lits = ",".join("1.0" if x > 0 else "-1.0" for x in h)
        return f"list_dot_product(v, [{lits}])"

    bands_sql = []
    for bi in range(4):
        terms = " + ".join(
            f"CASE WHEN {dot(_LSH_PLANES_SCALE[bi * 16 + j])} >= 0 THEN {1 << j} ELSE 0 END"
            for j in range(16)
        )
        bands_sql.append(f"({terms}) AS band{bi}")
    bands = ",\n         ".join(bands_sql)
    cos = (
        "list_dot_product(a.v, c.v) / "
        "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v)))"
    )
    return f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
aug AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(range(1, 65), i -> v[i] + 0.05 * v[(i % 64) + 1])
  FROM base
),
b AS (
  SELECT vec_id, v,
         {bands}
  FROM aug
)
SELECT a.vec_id AS id_a, c.vec_id AS id_b,
       round({cos}, 6) AS cosine
FROM b a JOIN b c
  ON a.vec_id < c.vec_id
 AND (a.band0 = c.band0 OR a.band1 = c.band1 OR a.band2 = c.band2 OR a.band3 = c.band3)
WHERE {cos} >= 0.9
ORDER BY id_a, id_b
"""


ORACLES["embedding_neardup_lsh_scale"] = _lsh_scale_oracle()


# ---------------------------------------------------------------------------
# Categorical binning + KS/IV (SURVEY §2.5 CategoricalBinning)
# ---------------------------------------------------------------------------

@query("ksiv_categorical", stage="stats")
def ksiv_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical binning (frequency-ordered, CategoricalBinning.java:33)
    + KS/IV/WOE on orders.o_orderpriority, tag = (o_orderstatus = 'F')."""
    from pyspark.sql import Window
    from shifu_spark.operators.ksiv import ksiv_df

    o = _t(spark, sf_dir, "orders")
    cats = o.groupBy(F.col("o_orderpriority").alias("cat")).count()
    # bounded: unpartitioned rank over #distinct-categories rows (catalog-scale)
    worder = Window.orderBy(F.desc("count"), F.asc("cat"))
    idx = cats.withColumn("bin", F.row_number().over(worder) - 1).select("cat", "bin")
    counts = (
        o.join(F.broadcast(idx), o.o_orderpriority == idx.cat)
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("bin_count_pos"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 0).otherwise(1)).alias("bin_count_neg"),
        )
        .withColumn("column_name", F.lit("o_orderpriority"))
    )
    return ksiv_df(counts)


def _ksiv_cat_oracle() -> str:
    from shifu_spark.operators.ksiv import ksiv_oracle_sql

    counts_sql = """
SELECT 'o_orderpriority' AS column_name, bin,
       sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS bin_count_pos,
       sum(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END) AS bin_count_neg
FROM orders JOIN (
  SELECT cat, row_number() OVER (ORDER BY c DESC, cat ASC) - 1 AS bin
  FROM (SELECT o_orderpriority AS cat, count(*) AS c FROM orders GROUP BY 1)
) ON o_orderpriority = cat
GROUP BY bin"""
    return ksiv_oracle_sql(counts_sql)


ORACLES["ksiv_categorical"] = _ksiv_cat_oracle()


def _ksiv_quantile_query(
    spark: SparkSession, sf_dir: str, boundary_where: str | None
) -> DataFrame:
    """Shared equal-frequency KS/IV machinery: exact `percentile`
    boundaries over the (optionally filtered) boundary population, bin
    index = #{edges <= x} − 1, KS/IV over ALL rows. One place owns the
    interpolation and bin-lookup contract for every BinningMethod
    variant (EqualTotal / EqualPositive / EqualNegative differ only in
    which rows feed the quantiles — ModelStatsConf.java:34-36)."""
    from shifu_spark.operators.ksiv import ksiv_df

    li = _t(spark, sf_dir, "lineitem")
    k = 10
    qs = [i / k for i in range(k)]
    src = li.filter(F.expr(boundary_where)) if boundary_where else li
    qdf = src.agg(
        F.expr(f"percentile(l_extendedprice, array({','.join(str(q) for q in qs)}))").alias("qs")
    )
    binned = li.crossJoin(F.broadcast(qdf)).withColumn(
        "bin",
        F.greatest(
            F.size(F.filter(F.col("qs"), lambda b: F.col("l_extendedprice") >= b)) - 1, F.lit(0)
        ),
    )
    counts = (
        binned.groupBy("bin")
        .agg(
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("bin_count_pos"),
            F.sum(F.when(F.col("l_returnflag") == "R", 0).otherwise(1)).alias("bin_count_neg"),
        )
        .withColumn("column_name", F.lit("l_extendedprice"))
    )
    return ksiv_df(counts)


def _ksiv_quantile_oracle(boundary_where: str | None) -> str:
    from shifu_spark.operators.ksiv import ksiv_oracle_sql

    qlist = ", ".join(f"quantile_cont(l_extendedprice, {i/10})" for i in range(10))
    where = f" WHERE {boundary_where}" if boundary_where else ""
    counts_sql = f"""
SELECT 'l_extendedprice' AS column_name,
       greatest(len(list_filter(qs, b -> l_extendedprice >= b)) - 1, 0) AS bin,
       sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS bin_count_pos,
       sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS bin_count_neg
FROM lineitem CROSS JOIN (SELECT [{qlist}] AS qs FROM lineitem{where})
GROUP BY 2"""
    return ksiv_oracle_sql(counts_sql)


@query("ksiv_equal_population", stage="stats")
def ksiv_equal_population(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EqualTotal equal-population bins via exact percentile (the SPDT/
    EqualPopulationBinning replacement) + KS/IV on l_extendedprice.

    Boundaries come from `percentile` (same interpolation as DuckDB
    quantile_cont -> bit-identical), bin index = #{edges <= x} - 1.
    """
    return _ksiv_quantile_query(spark, sf_dir, None)


ORACLES["ksiv_equal_population"] = _ksiv_quantile_oracle(None)


@query("ksiv_equal_positive", stage="stats")
def ksiv_equal_positive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EqualPositive binning — the reference's DEFAULT BinningMethod
    (ModelStatsConf.java:34-36): boundaries are exact quantiles over the
    POSITIVE rows only (binning.binning_population method semantics),
    then KS/IV over the full population with those edges."""
    return _ksiv_quantile_query(spark, sf_dir, "l_returnflag = 'R'")


ORACLES["ksiv_equal_positive"] = _ksiv_quantile_oracle("l_returnflag = 'R'")


@query("ksiv_equal_negative", stage="stats")
def ksiv_equal_negative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EqualNegative binning (BinningMethod.EqualNegative,
    ModelStatsConf.java:34-36): boundaries are exact quantiles over the
    NEGATIVE rows only, then KS/IV over the full population with those
    edges — the mirror of ksiv_equal_positive, driver-proving the last
    unproven BinningMethod variant (EqualTotal coincides with
    EqualPopulation, already green)."""
    return _ksiv_quantile_query(spark, sf_dir, "l_returnflag <> 'R'")


ORACLES["ksiv_equal_negative"] = _ksiv_quantile_oracle("l_returnflag <> 'R'")


@query("ksiv_weighted", stage="stats")
def ksiv_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted KS/IV/WOE (binWeightNeg/binWeightPos, the double[] overload
    of ColumnStatsCalculator) — weight = l_quantity, decimal-summed."""
    from shifu_spark.operators.binning import equal_interval_bin_expr
    from shifu_spark.operators.ksiv import ksiv_df

    li = _t(spark, sf_dir, "lineitem")
    # non-finite score values: out of the edges, into the NULL bin
    binned = li.crossJoin(F.broadcast(_value_min_max(li, "l_extendedprice"))).withColumn(
        "bin", equal_interval_bin_expr(F.col("l_extendedprice"), F.col("mn"), F.col("mx"), 10)
    )
    w = F.col("l_quantity").cast("decimal(38,10)")
    counts = (
        binned.groupBy("bin")
        .agg(
            F.sum(F.when(F.col("l_returnflag") == "R", w).otherwise(F.lit(0).cast("decimal(38,10)"))).cast("double").alias("bin_count_pos"),
            F.sum(F.when(F.col("l_returnflag") == "R", F.lit(0).cast("decimal(38,10)")).otherwise(w)).cast("double").alias("bin_count_neg"),
        )
        .withColumn("column_name", F.lit("l_extendedprice"))
    )
    return ksiv_df(counts)


def _ksiv_weighted_oracle() -> str:
    from shifu_spark.operators.ksiv import ksiv_oracle_sql

    counts_sql = """
SELECT 'l_extendedprice' AS column_name,
       CASE WHEN l_extendedprice IS NULL OR NOT isfinite(l_extendedprice) THEN NULL
            WHEN mx = mn THEN 0
            ELSE least(floor((l_extendedprice - mn) / ((mx - mn) / 10)), 9) END AS bin,
       sum(CASE WHEN l_returnflag = 'R' THEN cast(l_quantity AS DECIMAL(38,10)) ELSE cast(0 AS DECIMAL(38,10)) END)::DOUBLE AS bin_count_pos,
       sum(CASE WHEN l_returnflag = 'R' THEN cast(0 AS DECIMAL(38,10)) ELSE cast(l_quantity AS DECIMAL(38,10)) END)::DOUBLE AS bin_count_neg
FROM lineitem CROSS JOIN (SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx
                          FROM lineitem WHERE l_extendedprice IS NOT NULL AND isfinite(l_extendedprice))
GROUP BY 2"""
    return ksiv_oracle_sql(counts_sql)


ORACLES["ksiv_weighted"] = _ksiv_weighted_oracle()


# ---------------------------------------------------------------------------
# Varselect / posttrain (SURVEY §2.6, §2.10)
# ---------------------------------------------------------------------------

@query("varselect_top_iv", stage="stats")
def varselect_top_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N columns by IV (VariableSelector / VarSelectReducer top-N
    pattern) over the equal-interval KS/IV table."""
    from pyspark.sql import Window

    ks = QUERIES["ksiv_equal_interval"](spark, sf_dir)
    # bounded: unpartitioned rank over #columns rows (catalog-scale)
    w = Window.orderBy(F.desc("iv"), F.asc("column_name"))
    return ks.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 2).select(
        "rank", "column_name", "iv"
    )


ORACLES["varselect_top_iv"] = f"""
WITH base AS ({ORACLES['ksiv_equal_interval']})
SELECT row_number() OVER (ORDER BY iv DESC, column_name ASC)::INT AS rank, column_name, iv
FROM base QUALIFY rank <= 2 ORDER BY rank
"""


@query("varselect_top_ks", stage="stats")
def varselect_top_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N columns by KS (pipeline.var_select ``by='ks'`` — the other
    half of the reference's sort-columns-by-KS/IV selection,
    VarSelectReducer)."""
    from pyspark.sql import Window

    ks = QUERIES["ksiv_equal_interval"](spark, sf_dir)
    # bounded: unpartitioned rank over #columns rows (catalog-scale)
    w = Window.orderBy(F.desc("ks"), F.asc("column_name"))
    return (
        ks.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 2)
        .select("rank", "column_name", "ks")
    )


ORACLES["varselect_top_ks"] = f"""
WITH base AS ({ORACLES['ksiv_equal_interval']})
SELECT row_number() OVER (ORDER BY ks DESC, column_name ASC)::INT AS rank, column_name, ks
FROM base QUALIFY rank <= 2 ORDER BY rank
"""


@query("auto_filter", stage="stats")
def auto_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-filter varselect (ModelVarSelectConf.java:92-113,
    VariableSelector): a column survives iff missing rate <= 0.98 AND
    iv >= minIv, then the top-2 by IV get final_select — the DataFrame
    twin of pipeline.var_select (which applies the same rules to the
    ColumnConfig list). Output one row per candidate column with the
    inputs and the decision."""
    from pyspark.sql import Window

    ks = QUERIES["ksiv_equal_interval"](spark, sf_dir)
    li = _t(spark, sf_dir, "lineitem")
    mr_aggs = [
        (F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)) / F.count(F.lit(1))).alias(c)
        for c in _KSIV_COLS
    ]
    stack = ", ".join(f"'{c}', {c}" for c in _KSIV_COLS)
    missing = li.agg(*mr_aggs).select(
        F.expr(f"stack({len(_KSIV_COLS)}, {stack}) AS (column_name, missing_rate)")
    )
    t = ks.join(F.broadcast(missing), "column_name")
    passes = (F.col("missing_rate") <= 0.98) & (F.col("iv") >= 0.001)
    # bounded: unpartitioned rank over #candidate-columns rows (catalog-scale)
    rk = F.row_number().over(
        Window.orderBy(
            F.when(passes, F.col("iv")).otherwise(F.lit(None)).desc_nulls_last(),
            F.asc("column_name"),
        )
    )
    return (
        t.withColumn("final_select", passes & (rk <= 2))
        .select(
            "column_name",
            F.round("missing_rate", 6).alias("missing_rate"),
            "iv",
            "ks",
            "final_select",
        )
        .orderBy("column_name")
    )


ORACLES["auto_filter"] = f"""
WITH base AS ({ORACLES['ksiv_equal_interval']}),
mr AS (
  -- the pass/fail gate compares the UNROUNDED rate (matching the Spark
  -- side); rounding is display-only in the final select
  SELECT column_name, missing_rate FROM (
    SELECT sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*) AS l_quantity,
           sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*) AS l_extendedprice,
           sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*) AS l_discount,
           sum(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*) AS l_tax
    FROM lineitem
  ) UNPIVOT (missing_rate FOR column_name IN (l_quantity, l_extendedprice, l_discount, l_tax))
),
t AS (
  SELECT b.column_name, mr.missing_rate, b.iv, b.ks,
         (mr.missing_rate <= 0.98 AND b.iv >= 0.001) AS passes
  FROM base b JOIN mr ON b.column_name = mr.column_name
),
rk AS (
  SELECT *, row_number() OVER (
      ORDER BY CASE WHEN passes THEN iv END DESC NULLS LAST, column_name ASC
  ) AS rn
  FROM t
)
SELECT column_name, round(missing_rate, 6) AS missing_rate, iv, ks,
       (passes AND rn <= 2) AS final_select
FROM rk ORDER BY column_name
"""


@query("native_ntile_binning", stage="stats")
def native_ntile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native equal-count binning (NativeBinning.java:27): exact ntile
    cut — left edge of tile i = min value inside tile i, per
    binning.ntile_boundaries. Documented TEST-SCALE path (global sort);
    the 100 TB path is percentile/KLL (ksiv_equal_population). Output
    (tile, edge, n) is deterministic across engines: ntile splits by
    position with fixed tile sizes, and tied values are interchangeable
    within their run, so per-tile min/count are order-free."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    v = F.col("o_totalprice").cast("double")
    w = Window.orderBy(v)
    return (
        o.filter(v.isNotNull())
        .select(v.alias("v"), F.ntile(8).over(w).alias("tile"))
        .groupBy("tile")
        .agg(F.round(F.min("v"), 6).alias("edge"), F.count(F.lit(1)).alias("n"))
        .orderBy("tile")
    )


ORACLES["native_ntile_binning"] = """
SELECT tile::INT AS tile, round(min(v), 6) AS edge, count(*)::BIGINT AS n
FROM (
  SELECT o_totalprice::DOUBLE AS v,
         ntile(8) OVER (ORDER BY o_totalprice::DOUBLE) AS tile
  FROM orders WHERE o_totalprice IS NOT NULL
)
GROUP BY tile ORDER BY tile
"""


@query("bin_avg_score", stage="eval")
def bin_avg_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posttrain bin average score (PostTrain.pig:44-45,
    CalculateBinAvgScoreUDF): score = l_extendedprice, bins = equal-
    interval on l_quantity."""
    from shifu_spark.operators.binning import equal_interval_bin_expr

    li = _t(spark, sf_dir, "lineitem")
    binned = li.crossJoin(F.broadcast(_value_min_max(li, "l_quantity"))).withColumn(
        "bin", equal_interval_bin_expr(F.col("l_quantity"), F.col("mn"), F.col("mx"), 10)
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(38,10)")).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_score"),
        )
        .orderBy("bin")
    )


ORACLES["bin_avg_score"] = """
SELECT (CASE WHEN l_quantity IS NULL OR NOT isfinite(l_quantity) THEN NULL
             WHEN mx = mn THEN 0
             ELSE least(floor((l_quantity - mn) / ((mx - mn) / 10)), 9) END)::BIGINT AS bin,
       count(*)::BIGINT AS n,
       round(sum(cast(l_extendedprice AS DECIMAL(38,10)))::DOUBLE / count(*), 6) AS avg_score
FROM lineitem CROSS JOIN (SELECT min(l_quantity) AS mn, max(l_quantity) AS mx
                          FROM lineitem WHERE l_quantity IS NOT NULL AND isfinite(l_quantity))
GROUP BY 1 ORDER BY 1
"""


@query("gain_buckets", stage="eval")
def gain_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed gains table (performanceBucketNum semantics): first
    confusion point at or past each action-rate decile."""
    from shifu_spark.operators.eval_metrics import confusion_points_df, gain_buckets_df

    li = _t(spark, sf_dir, "lineitem")
    caches: list[DataFrame] = []
    pts = confusion_points_df(
        li, "l_extendedprice", F.col("l_returnflag") == "R", cache_out=caches
    )
    return _materialize_release(gain_buckets_df(pts, 10), caches)


ORACLES["gain_buckets"] = """
WITH pts AS (
  SELECT l_extendedprice AS score,
         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS pos,
         sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS neg
  -- unrankable (NULL/NaN/±Inf) scores are not eval points
  FROM lineitem WHERE l_extendedprice IS NOT NULL AND isfinite(l_extendedprice) GROUP BY 1
),
cum AS (
  SELECT score,
         sum(pos) OVER (ORDER BY score DESC) AS tp,
         sum(neg) OVER (ORDER BY score DESC) AS fp,
         sum(pos) OVER () AS tot_p, sum(neg) OVER () AS tot_n
  FROM pts
),
pts2 AS (
  SELECT score, (tp + fp)::DOUBLE / (tot_p + tot_n) AS action_rate,
         tp::DOUBLE / (tp + fp) AS precision, tp::DOUBLE / tot_p AS recall, fp::DOUBLE / tot_n AS fpr,
         least(floor((tp + fp)::DOUBLE / (tot_p + tot_n) * 10), 10) AS bucket
  FROM cum
)
SELECT bucket::BIGINT AS bucket, score, round(action_rate, 6) AS action_rate,
       round(precision, 6) AS precision, round(recall, 6) AS recall, round(fpr, 6) AS fpr
FROM (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY score DESC) AS rn FROM pts2)
WHERE rn = 1 ORDER BY bucket
"""


@query("gain_chart_export", stage="eval")
def gain_chart_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gain-chart operating-point table (core/eval/GainChart.java + the
    export CSV twin): the bucketed gains rows plus cumulative lift
    (recall / action_rate vs the random baseline). The HTML/CSV
    renderers over this table are driver-side stdlib functions
    (operators/gain_chart.py, pinned by tests/test_gain_chart.py)."""
    from shifu_spark.operators.gain_chart import gain_chart_rows_df

    li = _t(spark, sf_dir, "lineitem")
    caches: list[DataFrame] = []
    out = gain_chart_rows_df(
        li, "l_extendedprice", F.col("l_returnflag") == "R", 10, cache_out=caches
    )
    return _materialize_release(out, caches)


ORACLES["gain_chart_export"] = """
WITH pts AS (
  SELECT l_extendedprice AS score,
         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS pos,
         sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS neg
  -- unrankable (NULL/NaN/±Inf) scores are not eval points
  FROM lineitem WHERE l_extendedprice IS NOT NULL AND isfinite(l_extendedprice) GROUP BY 1
),
cum AS (
  SELECT score,
         sum(pos) OVER (ORDER BY score DESC) AS tp,
         sum(neg) OVER (ORDER BY score DESC) AS fp,
         sum(pos) OVER () AS tot_p, sum(neg) OVER () AS tot_n
  FROM pts
),
pts2 AS (
  SELECT score, (tp + fp)::DOUBLE / (tot_p + tot_n) AS action_rate,
         tp::DOUBLE / (tp + fp) AS precision, tp::DOUBLE / tot_p AS recall, fp::DOUBLE / tot_n AS fpr,
         least(floor((tp + fp)::DOUBLE / (tot_p + tot_n) * 10), 10) AS bucket
  FROM cum
)
SELECT bucket::BIGINT AS bucket, score, round(action_rate, 6) AS action_rate,
       round(precision, 6) AS precision, round(recall, 6) AS recall, round(fpr, 6) AS fpr,
       round(recall / action_rate, 6) AS lift
FROM (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY score DESC) AS rn FROM pts2)
WHERE rn = 1 ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# Scalar transforms / segments / sessionization (SURVEY §2.8, §2.2)
# ---------------------------------------------------------------------------

@query("date_to_unix", stage="norm")
def date_to_unix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ConvertToUnixTimeUDF.java:29-58: timestamp -> epoch seconds.

    ``_events`` normalizes ts to TIMESTAMP; cast-to-bigint truncates to
    whole epoch seconds (equals floor for post-1970 data), matching the
    oracle's floor(epoch(ts))."""
    ev = _events(spark, sf_dir)
    return (
        ev.withColumn("epoch_s", F.col("ts").cast("bigint"))
        .groupBy("event_type")
        .agg(F.min("epoch_s").alias("min_epoch"), F.max("epoch_s").alias("max_epoch"), F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


ORACLES["date_to_unix"] = """
SELECT event_type,
       min(floor(epoch(ts))::BIGINT) AS min_epoch,
       max(floor(epoch(ts))::BIGINT) AS max_epoch,
       count(*)::BIGINT AS n
FROM events GROUP BY event_type ORDER BY event_type
"""


@query("concat_fields", stage="norm")
def concat_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ConcatLogUDF: field concatenation as a pure column expression."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.concat_ws("|", F.col("c_name"), F.col("c_mktsegment"), F.col("c_nationkey")).alias("log_line"),
    ).orderBy("c_custkey")


ORACLES["concat_fields"] = """
-- concat_ws, not ||: the Spark side (ConcatLogUDF rebuild) SKIPS null
-- fields in the log line; bare || would null the whole line instead
SELECT c_custkey, concat_ws('|', c_name, c_mktsegment, c_nationkey::VARCHAR) AS log_line
FROM customer ORDER BY c_custkey
"""


@query("segment_expansion", stage="query")
def segment_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment/virtual-dataset expansion (AddColumnNumAndFilterUDF:75-99):
    stats per segment = union of filtered copies with segment ids."""
    from shifu_spark.operators.purify import expand_segments

    li = _t(spark, sf_dir, "lineitem")
    seg = expand_segments(li, ["l_quantity > 25", "l_discount >= 0.05 && l_returnflag == 'R'"])
    return (
        seg.groupBy("segment_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(38,10)")).cast("double"), 4).alias("sum_price"),
        )
        .orderBy("segment_id")
    )


ORACLES["segment_expansion"] = """
WITH seg AS (
  SELECT 0 AS segment_id, l_extendedprice FROM lineitem
  UNION ALL SELECT 1, l_extendedprice FROM lineitem WHERE l_quantity > 25
  UNION ALL SELECT 2, l_extendedprice FROM lineitem WHERE l_discount >= 0.05 AND l_returnflag = 'R'
)
SELECT segment_id, count(*)::BIGINT AS n,
       round(sum(cast(l_extendedprice AS DECIMAL(38,10)))::DOUBLE, 4) AS sum_price
FROM seg GROUP BY segment_id ORDER BY segment_id
"""


@query("events_sessionize", stage="query")
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: new session when gap > 30 min; sessions per user.
    lag + conditional cumsum windows (the batch form of
    session_window)."""
    from pyspark.sql import Window

    # NULL ts cannot be sessionized — excluded on both engines and by
    # the native session_window twins (which drop null event times)
    ev = _events(spark, sf_dir).where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_sess",
            F.when(
                F.col("prev_ts").isNull()
                | (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts") > 1800),
                1,
            ).otherwise(0),
        )
    )
    return (
        sess.groupBy("user_id")
        .agg(F.sum("new_sess").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id")
    )


ORACLES["events_sessionize"] = """
WITH s AS (
  SELECT user_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events WHERE ts IS NOT NULL  -- an un-timestamped event cannot be sessionized
)
SELECT user_id, sum(new_sess)::BIGINT AS n_sessions, count(*)::BIGINT AS n_events
FROM s GROUP BY user_id ORDER BY user_id
"""


@query("distinct_counts", stage="stats")
def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-column distinct counts (the init auto-type input;
    production uses approx_count_distinct = HLL++, the reference's
    AutoTypeDistinctCountMapper)."""
    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_discount", "l_returnflag", "l_linestatus", "l_orderkey"]
    return li.agg(
        *[F.countDistinct(c).alias(f"dc_{c}") for c in cols],
        F.count(F.lit(1)).alias("total"),
    )


ORACLES["distinct_counts"] = """
SELECT count(DISTINCT l_quantity)::BIGINT AS dc_l_quantity,
       count(DISTINCT l_discount)::BIGINT AS dc_l_discount,
       count(DISTINCT l_returnflag)::BIGINT AS dc_l_returnflag,
       count(DISTINCT l_linestatus)::BIGINT AS dc_l_linestatus,
       count(DISTINCT l_orderkey)::BIGINT AS dc_l_orderkey,
       count(*)::BIGINT AS total
FROM lineitem
"""


@query("psi_by_column", stage="stats")
def psi_by_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference column-level PSI = Σ over units of unit PSI
    (PSICalculatorUDF accumulates across the unit bag)."""
    per_unit = QUERIES["psi_events_by_day"](spark, sf_dir)
    return per_unit.agg(F.round(F.sum("psi"), 6).alias("psi")).select(
        F.lit("value").alias("column_name"), "psi"
    )


ORACLES["psi_by_column"] = f"""
SELECT 'value' AS column_name, round(sum(psi), 6) AS psi
FROM ({ORACLES['psi_events_by_day']})
"""


@query("stratified_sample", stage="stats")
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli sampling with keep-all-positives
    (DataSampler.java:112-160) — rows-only check (seeded RNG is not
    SQL-portable) but semi-verifiable: ALL positives must survive and
    the negative keep-fraction must sit near the 0.1 rate, asserted
    in-query against the source counts (VERDICT r6 #5)."""
    from shifu_spark.operators.purify import bernoulli_sample

    li = _t(spark, sf_dir, "lineitem")
    totals = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    s = bernoulli_sample(li, 0.1, sample_negative_only=True, tag_col="l_returnflag", pos_tags=["R"], seed=42)
    kept = {
        r["l_returnflag"]: r["n"]
        for r in s.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    if kept.get("R") != totals.get("R"):
        raise ValueError(f"sample sentinel: positives not all kept ({kept.get('R')}/{totals.get('R')})")
    # iterate TOTALS, not kept: a tag whose rows were ALL dropped is
    # absent from `kept` and would otherwise escape the assertion
    for tag, n in totals.items():
        frac = kept.get(tag, 0) / n
        if tag != "R" and not 0.05 <= frac <= 0.15:
            raise ValueError(f"sample sentinel: tag {tag} keep-fraction {frac} far from 0.1")
    return local_frame(
        spark,
        sorted(
            (t, kept.get(t, 0), n, round(kept.get(t, 0) / n, 4),
             kept.get(t, 0) == n if t == "R" else 0.05 <= kept.get(t, 0) / n <= 0.15)
            for t, n in totals.items()
        ),
        "l_returnflag string, n_kept long, n_total long, keep_frac double, invariant_ok boolean",
    )


@query("hash_stratified_sample", stage="stats")
def hash_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-keyed Bernoulli sample with
    keep-all-positives (purify.hash_bernoulli_sample) — the
    at-scale/reproducible form of the reference sampler: membership is
    a pure function of the row key, so the sample is identical across
    reruns, partitionings and engines (F.rand-based sampling is none of
    those), which is what makes this one hash-checkable where the
    seeded-RNG twin stays rows-only. Output: per-tag survivor counts +
    an exact decimal sum over the sampled rows."""
    from shifu_spark.operators.purify import hash_bernoulli_sample

    li = _t(spark, sf_dir, "lineitem")
    s = hash_bernoulli_sample(
        li, 0.1, ["l_orderkey", "l_linenumber"],
        sample_negative_only=True, tag_col="l_returnflag", pos_tags=["R"],
    )
    return (
        s.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("l_quantity").cast("decimal(38,10)")).cast("double"), 4).alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


def _hash_sample_oracle() -> str:
    from shifu_spark.operators.purify import _hex_threshold

    thr = _hex_threshold(0.1)
    return f"""
SELECT l_returnflag, count(*) AS n,
       round(sum(cast(l_quantity AS DECIMAL(38,10)))::DOUBLE, 4) AS sum_qty
FROM lineitem
WHERE l_returnflag = 'R'
   OR md5('0' || '|' || l_orderkey || '|' || l_linenumber) < '{thr}'
GROUP BY l_returnflag ORDER BY l_returnflag
"""


ORACLES["hash_stratified_sample"] = _hash_sample_oracle()


@query("kfold_assignment", stage="train")
def kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-keyed k-fold split (purify.hash_fold_expr) — the
    hash-checkable half of k-fold CV (the fit stays rows-only): fold =
    #{hex thresholds <= md5(key)}, a pure function of the row key, so
    the split is identical across reruns/partitionings/engines.
    Output: per-fold counts + exact decimal sums proving the assignment
    and that every row lands in exactly one fold."""
    from shifu_spark.operators.purify import hash_fold_expr

    li = _t(spark, sf_dir, "lineitem")
    return (
        li.withColumn("fold", hash_fold_expr(["l_orderkey", "l_linenumber"], 5).cast("int"))
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(38,10)")).cast("double"), 4).alias("sum_price"),
        )
        .orderBy("fold")
    )


def _kfold_assignment_oracle() -> str:
    from shifu_spark.operators.purify import _hex_threshold

    terms = " + ".join(
        f"CASE WHEN md5('fold' || '|' || l_orderkey || '|' || l_linenumber) >= '{_hex_threshold(i / 5)}' THEN 1 ELSE 0 END"
        for i in range(1, 5)
    )
    return f"""
SELECT ({terms})::INT AS fold, count(*) AS n,
       round(sum(cast(l_extendedprice AS DECIMAL(38,10)))::DOUBLE, 4) AS sum_price
FROM lineitem GROUP BY 1 ORDER BY fold
"""


ORACLES["kfold_assignment"] = _kfold_assignment_oracle()


# ---------------------------------------------------------------------------
# Posttrain / varselect operators (SURVEY §2.10)
# ---------------------------------------------------------------------------

_SENS_W = {"l_quantity": 0.08, "l_discount": -12.0, "l_tax": 5.0}


@query("sensitivity_se", stage="train")
def sensitivity_se_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sensitivity SE varselect (VarSelectMapper/Reducer semantics) with a
    fixed linear model: per column, MSE of sigmoid(logit − w_j·x_j) vs
    sigmoid(logit). Column-expression form with decimal term sums so the
    oracle matches bit-for-bit (the library's Arrow/numpy form is
    shifu_spark.ml.posttrain.sensitivity_se)."""
    li = _t(spark, sf_dir, "lineitem")
    logit = sum((F.col(c) * w for c, w in _SENS_W.items()), F.lit(0.0))
    base = 1.0 / (1.0 + F.exp(-logit))
    aggs = []
    for c, w in _SENS_W.items():
        masked = 1.0 / (1.0 + F.exp(-(logit - F.col(c) * w)))
        term = (masked - base) * (masked - base)
        aggs.append(F.sum(term.cast("decimal(38,18)")).cast("double").alias(f"{c}__s"))
    aggs.append(F.count(F.lit(1)).alias("n"))
    wide = li.agg(*aggs)
    selects = [
        wide.select(F.lit(c).alias("column_name"), F.round(F.col(f"{c}__s") / F.col("n"), 8).alias("se"))
        for c in _SENS_W
    ]
    out = selects[0]
    for s in selects[1:]:
        out = out.unionAll(s)
    return out.orderBy("column_name")


def _sens_oracle() -> str:
    logit = " + ".join(f"{c} * {w!r}" for c, w in _SENS_W.items())
    parts = []
    for c, w in _SENS_W.items():
        parts.append(f"""
SELECT '{c}' AS column_name,
       round(sum(cast((1.0/(1.0+exp(-(({logit}) - {c} * {w!r}))) - 1.0/(1.0+exp(-({logit}))))
                      * (1.0/(1.0+exp(-(({logit}) - {c} * {w!r}))) - 1.0/(1.0+exp(-({logit}))))
                 AS DECIMAL(38,18)))::DOUBLE / count(*), 8) AS se
FROM lineitem""")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY column_name"


ORACLES["sensitivity_se"] = _sens_oracle()


@query("sensitivity_st", stage="train")
def sensitivity_st_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sensitivity ST varselect (VarSelectMapper.java:306-309 FILTER_BY_ST:
    diff = target − column-masked score; reducer ranks rms desc): per
    column, MSE of (y − sigmoid(logit − w_j·x_j)) with a fixed linear
    model and y = (l_returnflag = 'R'). Decimal term sums keep the oracle
    bit-deterministic (Arrow/numpy form: ml.posttrain.sensitivity_st)."""
    li = _t(spark, sf_dir, "lineitem")
    logit = sum((F.col(c) * w for c, w in _SENS_W.items()), F.lit(0.0))
    y = F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0)
    aggs = []
    for c, w in _SENS_W.items():
        masked = 1.0 / (1.0 + F.exp(-(logit - F.col(c) * w)))
        term = (y - masked) * (y - masked)
        aggs.append(F.sum(term.cast("decimal(38,18)")).cast("double").alias(f"{c}__s"))
    aggs.append(F.count(F.lit(1)).alias("n"))
    wide = li.agg(*aggs)
    selects = [
        wide.select(F.lit(c).alias("column_name"), F.round(F.col(f"{c}__s") / F.col("n"), 8).alias("st"))
        for c in _SENS_W
    ]
    out = selects[0]
    for s in selects[1:]:
        out = out.unionAll(s)
    return out.orderBy("column_name")


def _sens_st_oracle() -> str:
    logit = " + ".join(f"{c} * {w!r}" for c, w in _SENS_W.items())
    y = "(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END)"
    parts = []
    for c, w in _SENS_W.items():
        masked = f"1.0/(1.0+exp(-(({logit}) - {c} * {w!r})))"
        parts.append(f"""
SELECT '{c}' AS column_name,
       round(sum(cast(({y} - {masked}) * ({y} - {masked})
                 AS DECIMAL(38,18)))::DOUBLE / count(*), 8) AS st
FROM lineitem""")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY column_name"


ORACLES["sensitivity_st"] = _sens_st_oracle()


@query("weighted_pr_auc", stage="eval")
def weighted_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PR AUC (PerformanceResult weighted PR curve): trapezoid
    over weighted (recall, precision); weight = l_quantity with the
    reference clamp."""
    from shifu_spark.operators.eval_metrics import curve_metrics_df

    li = _t(spark, sf_dir, "lineitem")
    out = curve_metrics_df(
        li, "l_extendedprice", F.col("l_returnflag") == "R", weight_col="l_quantity"
    )
    return out.select(F.col("pr_auc").alias("weighted_pr_auc"))


ORACLES["weighted_pr_auc"] = """
WITH pts AS (
  SELECT l_extendedprice AS score,
         sum(CASE WHEN l_returnflag = 'R' THEN (CASE WHEN l_quantity IS NULL OR NOT isfinite(l_quantity) OR l_quantity < 0 THEN 1.0 ELSE l_quantity END) ELSE 0 END) AS wpos,
         sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE (CASE WHEN l_quantity IS NULL OR NOT isfinite(l_quantity) OR l_quantity < 0 THEN 1.0 ELSE l_quantity END) END) AS wneg
  -- unrankable (NULL/NaN/±Inf) scores are not eval points
  FROM lineitem WHERE l_extendedprice IS NOT NULL AND isfinite(l_extendedprice) GROUP BY 1
),
cum AS (
  SELECT sum(wpos) OVER (ORDER BY score DESC) AS wtp,
         sum(wneg) OVER (ORDER BY score DESC) AS wfp,
         sum(wpos) OVER () AS tot_p
  FROM pts
),
pr AS (
  SELECT wtp::DOUBLE / (wtp + wfp) AS precision, wtp::DOUBLE / tot_p AS recall FROM cum
),
lagged AS (
  -- recall ties (zero-wpos score runs) are pinned by precision DESC,
  -- which equals the score-descending scan order on the Spark side
  SELECT recall, precision,
         lag(recall) OVER (ORDER BY recall, precision DESC) AS prev_r,
         lag(precision) OVER (ORDER BY recall, precision DESC) AS prev_p
  FROM pr
)
SELECT round(sum((recall - prev_r) * (precision + prev_p) / 2.0), 6) AS weighted_pr_auc
FROM lagged WHERE prev_r IS NOT NULL
"""


@query("weighted_gain_buckets", stage="eval")
def weighted_gain_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted gains table (ConfusionMatrix weighted bucket walk): first
    point at or past each weighted action-rate decile."""
    from shifu_spark.operators.eval_metrics import weighted_gain_buckets_df

    li = _t(spark, sf_dir, "lineitem")
    caches: list[DataFrame] = []
    out = weighted_gain_buckets_df(
        li, "l_extendedprice", F.col("l_returnflag") == "R", "l_quantity", 10,
        cache_out=caches,
    )
    return _materialize_release(out, caches)


ORACLES["weighted_gain_buckets"] = """
WITH pts AS (
  SELECT l_extendedprice AS score,
         sum(CASE WHEN l_returnflag = 'R' THEN (CASE WHEN l_quantity IS NULL OR NOT isfinite(l_quantity) OR l_quantity < 0 THEN 1.0 ELSE l_quantity END) ELSE 0 END) AS wpos,
         sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE (CASE WHEN l_quantity IS NULL OR NOT isfinite(l_quantity) OR l_quantity < 0 THEN 1.0 ELSE l_quantity END) END) AS wneg
  -- unrankable (NULL/NaN/±Inf) scores are not eval points
  FROM lineitem WHERE l_extendedprice IS NOT NULL AND isfinite(l_extendedprice) GROUP BY 1
),
cum AS (
  SELECT score,
         sum(wpos) OVER (ORDER BY score DESC) AS wtp,
         sum(wneg) OVER (ORDER BY score DESC) AS wfp,
         sum(wpos) OVER () AS tot_p, sum(wpos + wneg) OVER () AS tot_w
  FROM pts
),
pts2 AS (
  SELECT score, (wtp + wfp)::DOUBLE / tot_w AS action_rate,
         wtp::DOUBLE / (wtp + wfp) AS wprecision, wtp::DOUBLE / tot_p AS wrecall,
         CASE WHEN tot_w <> 0 THEN least(floor((wtp + wfp)::DOUBLE / tot_w * 10), 10) END AS bucket
  FROM cum
)
SELECT bucket::BIGINT AS bucket, score, round(action_rate, 6) AS action_rate,
       round(wprecision, 6) AS wprecision, round(wrecall, 6) AS wrecall
FROM (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY score DESC) AS rn FROM pts2)
WHERE rn = 1 ORDER BY bucket
"""


@query("kfold_cv", stage="train")
def kfold_cv_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold CV as a dataflow op (SURVEY §2.10; deterministic crc32 fold
    assignment): 3-fold LR on lineitem numerics against the planted
    separable target (tag = l_quantity > 25), per-fold AUC. Rows-only
    (MLlib LR internals not SQL-expressible) but semi-verifiable: every
    fold's held-out AUC must clear 0.9, asserted in-query (VERDICT r6
    #5); determinism pinned by the seeded fold hash."""
    from shifu_spark.ml.train import TrainParams, assemble_features, kfold_cv

    li = _t(spark, sf_dir, "lineitem")
    feats = ["l_quantity", "l_discount", "l_tax"]
    # deterministic 1/4 subset keeps the driver-gate cost bounded
    data = li.filter(F.col("l_orderkey") % 4 == 0).select(
        *[F.col(c).cast("double").alias(c) for c in feats],
        F.when(F.col("l_quantity") > 25, 1.0).otherwise(0.0).alias("tag"),
    )
    assembled = assemble_features(data, feats)
    params = TrainParams(algorithm="LR", num_iterations=8, seed=42)
    aucs = kfold_cv(assembled, params, len(feats), k=3)
    bad = [a for a in aucs if a < 0.9]
    if bad:
        raise ValueError(f"kfold sentinel: fold AUC below 0.9 floor: {aucs}")
    return local_frame(
        spark,
        [(i, float(round(a, 4)), True) for i, a in enumerate(aucs)],
        "fold int, auc double, auc_floor_met boolean",
    )


@query("grid_search", stage="train")
def grid_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid search over TrainParams (SURVEY §2.10 train-conf grid): 2
    learning-rate points of LR on the planted separable target, seeded
    train/valid split, AUC per point. Rows-only but semi-verifiable:
    every grid point's validation AUC must clear 0.9, asserted
    in-query (VERDICT r6 #5)."""
    from shifu_spark.ml.train import TrainParams, assemble_features, grid_search

    li = _t(spark, sf_dir, "lineitem")
    feats = ["l_quantity", "l_discount", "l_tax"]
    data = li.filter(F.col("l_orderkey") % 4 == 0).select(
        *[F.col(c).cast("double").alias(c) for c in feats],
        F.when(F.col("l_quantity") > 25, 1.0).otherwise(0.0).alias("tag"),
    )
    assembled = assemble_features(data, feats)
    base = TrainParams(algorithm="LR", num_iterations=6, seed=42)
    res = grid_search(assembled, base, {"learning_rate": [0.05, 0.2]}, len(feats))
    if any(r["auc"] < 0.9 for r in res):
        raise ValueError(
            f"grid sentinel: AUC below 0.9 floor: {[(r['params'], r['auc']) for r in res]}"
        )
    return local_frame(
        spark,
        [
            (float(r["params"]["learning_rate"]), float(round(r["auc"], 4)), True)
            for r in res
        ],
        "learning_rate double, auc double, auc_floor_met boolean",
    ).orderBy("learning_rate")


@query("score_rescale", stage="eval")
def score_rescale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-score rescale strategies (ConfusionMatrix.java:257-276,404-420):
    SIGMOID (1/(1+e^{-2s})), OLD_SIGMOID (1/(1+e^{-s})), and MAXMIN with
    broadcast global bounds (degenerate range -> 0.5) over a centered
    margin column."""
    from shifu_spark.operators.eval_metrics import rescale_maxmin_expr, rescale_score_expr

    li = _t(spark, sf_dir, "lineitem")
    margin = (F.col("l_discount") - 0.05).alias("margin")
    mm = li.agg(
        F.min(F.col("l_discount") - 0.05).alias("mn"), F.max(F.col("l_discount") - 0.05).alias("mx")
    )
    t = li.select("l_orderkey", "l_linenumber", margin).crossJoin(F.broadcast(mm))
    return t.select(
        "l_orderkey",
        "l_linenumber",
        F.round(rescale_score_expr(F.col("margin"), "SIGMOID"), 6).alias("sigmoid"),
        F.round(rescale_score_expr(F.col("margin"), "OLD_SIGMOID"), 6).alias("old_sigmoid"),
        F.round(rescale_maxmin_expr(F.col("margin"), F.col("mn"), F.col("mx")), 6).alias("maxmin"),
    )


ORACLES["score_rescale"] = """
WITH mm AS (SELECT min(l_discount - 0.05) AS mn, max(l_discount - 0.05) AS mx FROM lineitem)
SELECT l_orderkey, l_linenumber,
       round(1.0 / (1.0 + exp(-2.0 * (l_discount - 0.05))), 6) AS sigmoid,
       round(1.0 / (1.0 + exp(-(l_discount - 0.05))), 6) AS old_sigmoid,
       round(CASE WHEN mx - mn <= 0 THEN 0.5 ELSE (l_discount - 0.05 - mn) / (mx - mn) END, 6) AS maxmin
FROM lineitem CROSS JOIN mm
"""


@query("multiclass_tag_recode", stage="norm")
def multiclass_tag_recode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-class tag recode (NormalizeUDF.java:354-372): index of the
    first tag-set containing the raw tag; per-class counts prove the
    mapping."""
    from shifu_spark.operators.normalize import tag_expr_multiclass

    li = _t(spark, sf_dir, "lineitem")
    idx = tag_expr_multiclass("l_returnflag", [["R"], ["A", "N"]])
    return (
        li.select(idx.alias("class_idx"))
        .filter(F.col("class_idx").isNotNull())
        .groupBy("class_idx")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("class_idx")
    )


ORACLES["multiclass_tag_recode"] = """
SELECT (CASE WHEN l_returnflag = 'R' THEN 0.0 WHEN l_returnflag IN ('A','N') THEN 1.0 END)::DOUBLE AS class_idx,
       count(*) AS n
FROM lineitem WHERE l_returnflag IN ('R','A','N')
GROUP BY 1 ORDER BY 1
"""


@query("text_roundtrip_stats", stage="text")
def text_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.1 sources end-to-end, driver-checkable: write orders as
    gzip pipe-delimited text with a `.pig_header` sidecar
    (write_dataset/write_header_sidecar — PigStorage('-schema') +
    Normalize.pig:29-34 gzip sink), read it back through the all-string
    ingest with the header-file schema and unparseable->missing cast
    (read_dataset/safe_double), and aggregate. The oracle aggregates the
    original parquet directly — hash equality proves the text sink and
    typed re-ingest are lossless."""
    import tempfile
    import uuid

    from shifu_spark.sources.reader import (
        read_dataset,
        safe_double,
        write_dataset,
        write_header_sidecar,
    )

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice")
    import shutil

    base = f"{tempfile.gettempdir()}/shifu_spark_textrt_{uuid.uuid4().hex[:8]}"
    try:
        write_dataset(o, f"{base}/data", fmt="csv", delimiter="|", compression="gzip")
        write_header_sidecar(o, f"{base}/data", delimiter="|")  # -> {base}/data.pig_header
        back = read_dataset(spark, f"{base}/data", header_path=f"{base}/data.pig_header")
        # csv sink wrote an inline header row too — drop it by field-name
        # match, NULL-SAFELY: a bare != is three-valued and silently eats
        # every NULL-key data row along with the header
        back = back.filter(~F.col("o_orderkey").eqNullSafe("o_orderkey"))
        out = (
            back.groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(
                    F.sum(safe_double(F.col("o_totalprice")).cast("decimal(38,10)")).cast("double"), 2
                ).alias("sum_price"),
            )
            .orderBy("o_orderpriority")
        )
        # materialize BEFORE the temp sink is removed (the plan reads it);
        # without cleanup every gate/bench/attest invocation leaked a
        # dataset-sized gzip dump under /tmp
        return _materialize_release(out, [])
    finally:
        shutil.rmtree(base, ignore_errors=True)


ORACLES["text_roundtrip_stats"] = """
-- nullif: the PigStorage-style text format writes NULL and '' both as
-- an empty field (the documented lossy equivalence), so the round-trip
-- reads either back as NULL — the oracle models the same merge
SELECT nullif(o_orderpriority, '') AS o_orderpriority, count(*) AS n,
       round(sum(cast(o_totalprice AS DECIMAL(38,10)))::DOUBLE, 2) AS sum_price
FROM orders GROUP BY 1 ORDER BY 1
"""


@query("rf_train", stage="train")
def rf_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RF training as a dataflow op (SURVEY §2.10; DTMaster/DTWorker ->
    MLlib RandomForestClassifier): fit on lineitem numerics against a
    PLANTED target (label = l_discount > 0.05 — discount is independent
    of the other features, so the forest must discover exactly it).
    Rows-only (tree induction isn't SQL-expressible) but
    semi-verifiable: top-importance-is-planted-feature and
    importances-sum-to-1 are asserted in-query (VERDICT r6 #5)."""
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.feature import VectorAssembler

    li = _t(spark, sf_dir, "lineitem")
    feats = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    data = li.select(
        *[F.col(c).cast("double").alias(c) for c in feats],
        F.when(F.col("l_discount") > 0.05, 1.0).otherwise(0.0).alias("label"),
    )
    assembled = VectorAssembler(inputCols=feats, outputCol="features").transform(data)
    model = RandomForestClassifier(numTrees=5, maxDepth=4, seed=42).fit(assembled)
    imps = [float(x) for x in model.featureImportances.toArray()]
    if abs(sum(imps) - 1.0) > 1e-6:
        raise ValueError(f"rf sentinel: importances sum {sum(imps)} != 1")
    top = max(imps)
    if feats[imps.index(top)] != "l_discount":
        raise ValueError(
            f"rf sentinel: top importance not the planted feature: {dict(zip(feats, imps))}"
        )
    return local_frame(
        spark,
        [
            (f, round(v, 6), bool(v == top) == (f == "l_discount"), True)
            for f, v in sorted(zip(feats, imps))
        ],
        "feature string, importance double, planted_rank_ok boolean, importance_sum_ok boolean",
    )


def _run_stream_to_sink(
    spark: SparkSession,
    df: DataFrame,
    prefix: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Run a bounded (availableNow) streaming query into a uuid-named
    memory sink, snapshot the sink's rows eagerly, DROP the sink table,
    and return the snapshot as a local-backed DataFrame.

    Memory-sink tables pin their full result in the session for its
    lifetime; without the drop, every invocation leaks one (the same
    slow-leak class as an unreleased persist). Sink contents here are
    summary-sized (windows × bins / sessions / distinct keys).

    The replay runs on ONE state-store partition: a memory sink holds its
    whole result on the driver, so its state is summary-sized by contract,
    and each extra stateful partition only adds provider setup per
    micro-batch. Results are partition-count independent; the session's
    shuffle-partition conf is restored afterwards."""
    import uuid

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
            return snapshot(spark.table(name))
        finally:
            # drop even on failure — otherwise a failed replay leaks the
            # session-lifetime sink table this helper exists to prevent
            try:
                q.stop()
            except Exception:
                pass
            spark.catalog.dropTempView(name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def _run_stream_to_files(
    spark: SparkSession,
    df: DataFrame,
    prefix: str,
    shuffle_partitions: int = 8,
) -> DataFrame:
    """File-sink twin of :func:`_run_stream_to_sink` for APPEND-mode
    streams whose sink rows are DATA-SCALE (one per event / doc / pair):
    rows land in a temp parquet directory on the executors and come back
    as a localCheckpoint'ed frame — they never sit in driver memory.
    The memory format pins the entire result on the driver for the
    session, which is the collect-then-recreate anti-pattern
    (_materialize_release's ADVICE r3 rationale) replayed in streaming
    form; at the scale these queries advertise the driver would OOM.
    Update/complete-mode summary-sized streams stay on the memory-sink
    helper (the parquet streaming sink is append-only)."""
    import shutil
    import tempfile

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    out_dir = tempfile.mkdtemp(prefix=f"shifu_spark_{prefix}_out_")
    ckpt = tempfile.mkdtemp(prefix=f"shifu_spark_{prefix}_ckpt_")
    try:
        q = (
            df.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            try:
                q.stop()
            except Exception:
                pass
        # explicit schema: an all-filtered replay leaves only
        # _spark_metadata in the sink dir and schema inference would fail
        return spark.read.schema(df.schema).parquet(out_dir).localCheckpoint(
            eager=True
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


@query("streaming_drift_psi", stage="streaming")
def streaming_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming drift PSI, driver-checkable: replay the
    events table as a bounded stream (availableNow trigger), window the
    per-bin counts by event day (streaming/drift.streaming_bin_counts —
    the SAME bin expression as batch), land them in a memory sink, and
    finalize PSI per window against a fixed expected distribution
    (psi_of_batch; PSICalculatorUDF.java:88-99 skip semantics). The
    bounded replay makes the result identical to the batch computation,
    which is exactly what the DuckDB oracle runs."""
    from shifu_spark.streaming.drift import psi_of_batch, streaming_bin_counts

    s = _events_stream(spark, sf_dir)
    counts = streaming_bin_counts(
        s, "value", [0.0, 50.0, 100.0, 150.0], ts_col="ts", window="1 day", watermark="0 seconds"
    )
    sink = _run_stream_to_sink(spark, counts, "drift")
    expected = {0: 0.25, 1: 0.25, 2: 0.25, 3: 0.25}
    return psi_of_batch(sink, expected).withColumn(
        "window_start", F.col("window_start").cast("timestamp")
    )


ORACLES["streaming_drift_psi"] = """
WITH binned AS (
  -- mirrors bin_index_expr: NULL/NaN/±Inf route to the MISSING slot
  -- (index 4 = len(boundaries)), which counts in the window total but
  -- has expected 0 so its PSI term is skipped; NULL-ts events cannot
  -- be event-time windowed (the stream drops them)
  SELECT date_trunc('day', ts)::TIMESTAMP AS window_start,
         CASE WHEN value IS NULL OR NOT isfinite(value) THEN 4
              WHEN value >= 150 THEN 3 WHEN value >= 100 THEN 2
              WHEN value >= 50 THEN 1 ELSE 0 END AS bin,
         count(*) AS cnt
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
frac AS (
  SELECT window_start, bin, cnt,
         cnt::DOUBLE / sum(cnt) OVER (PARTITION BY window_start) AS actual_frac
  FROM binned
)
SELECT window_start,
       round(sum(CASE WHEN actual_frac > 0 AND bin <= 3
                 THEN (actual_frac - 0.25) * ln(actual_frac / 0.25) ELSE 0 END), 6) AS psi
FROM frac GROUP BY window_start ORDER BY window_start
"""


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a bounded file stream with ts normalized to TIMESTAMP —
    the streaming twin of ``_events`` (same three physical encodings,
    same exact ns->us normalization)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(batch.dtypes)["ts"] == "bigint":
        ets = F.timestamp_micros(F.expr("ts div 1000"))
    else:
        ets = F.col("ts").cast("timestamp")
    return stream.withColumn("ts", ets)


@query("streaming_sessionize", stage="streaming")
def streaming_sessionize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization as a Structured Streaming query
    (streaming/ops.streaming_sessionize -> session_window state merge),
    replayed bounded (availableNow) into a memory sink, then summarized
    per user. The stream form of the batch ``events_sessionize`` query.

    Semantics note the oracle mirrors: ``session_window`` extends a
    session by [ts, ts+gap) — an event exactly ``gap`` after the
    previous one starts a NEW session (>= in the oracle), whereas the
    batch lag-form query uses strict >. Both are faithful gap readings;
    the boundary case is pinned explicitly on both sides here."""
    from shifu_spark.streaming.ops import streaming_sessionize

    s = _events_stream(spark, sf_dir)
    sess = streaming_sessionize(s, key_col="user_id", ts_col="ts", gap="30 minutes")
    sink = _run_stream_to_sink(spark, sess, "sess")
    return (
        sink.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.max("n_events").alias("max_session_events"),
        )
        .orderBy("user_id")
    )


ORACLES["streaming_sessionize"] = """
WITH s AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) >= 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events WHERE ts IS NOT NULL  -- an un-timestamped event cannot be sessionized (session_window drops it)
),
sid AS (
  -- event_id tiebreak: duplicate (user_id, ts) rows at a session
  -- boundary must cumulate in the same order new_sess was computed
  SELECT user_id,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM s
),
per_sess AS (
  SELECT user_id, session_id, count(*) AS n_events
  FROM sid GROUP BY user_id, session_id
)
SELECT user_id,
       count(*)::BIGINT AS n_sessions,
       sum(n_events)::BIGINT AS n_events,
       max(n_events)::BIGINT AS max_session_events
FROM per_sess GROUP BY user_id ORDER BY user_id
"""


@query("streaming_minhash_dedup", stage="streaming")
def streaming_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MinHash dedup: signature-at-ingest (stateless in-row
    K-minhash over word shingles, operators/dedup.with_minhash_signature)
    followed by the stream's single stateful operator —
    groupBy(signature) keeping (min doc_id, count) group state. Bounded
    availableNow replay -> memory sink makes the result identical to the
    batch signature-group, which is what the oracle computes. At scale
    the state store holds one (signature, rep, count) row per distinct
    signature inside the retention horizon — the streaming twin of the
    exact/shingleset dedup family."""
    from shifu_spark.operators.dedup import with_minhash_signature

    batch = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stream = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        # the _docs PRIMARY-KEY ingest contract, stream side
        .where(F.col("doc_id").isNotNull())
    )
    # NULL signature = NULL text (with_minhash_signature's no-shingles
    # contract): absent from the dedup groups, like every other
    # shingle-derived relation — a NULL groupBy key would otherwise
    # collect all NULL docs into a phantom dedup cluster
    sig = (
        with_minhash_signature(stream)
        .where(F.col("signature").isNotNull())
        .select("doc_id", "signature")
    )
    agg = sig.groupBy("signature").agg(
        F.min("doc_id").alias("rep_id"), F.count(F.lit(1)).alias("n_docs")
    )
    sink = _run_stream_to_sink(spark, agg, "mhdedup")
    return sink.select("rep_id", "n_docs").orderBy("rep_id")


@query("streaming_running_stats", stage="streaming")
def streaming_running_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key running moments carried in ``applyInPandasWithState``
    group state (streaming/ops — the distributed form of
    core/StreamStatsCalculator.java:30-126), replayed bounded so the
    final state equals the batch moments the oracle computes.

    Uses the EXACT integer-cent state variant: float Welford means
    depend on within-key row order (shuffle-nondeterministic) and on
    engine summation order, which flips 6th-decimal roundings at half
    boundaries (observed: mean 48.5609375 on this very table). Integer
    sums are associative, so mean/std here are bit-identical to the
    oracle's regardless of partitioning. Update mode emits state per
    micro-batch; the highest-n row per key is the final state whether
    the source replays in one batch or many."""
    from shifu_spark.streaming.ops import streaming_running_stats_exact_cents

    s = _events_stream(spark, sf_dir)
    out = streaming_running_stats_exact_cents(s, "user_id", "value")
    sink = _run_stream_to_sink(spark, out, "rstats", output_mode="update")
    latest = F.max_by(F.struct("n", "sum_c", "sumsq_c"), "n").alias("s")
    n, sc, ssc = F.col("s.n"), F.col("s.sum_c"), F.col("s.sumsq_c")
    # double ops over exact int64 inputs — deterministic on every engine.
    # try_divide + the n guards: a single-valued key's (n-1)=0 and a key
    # whose every value was non-finite (n=0, dropped below) both crashed
    # DIVIDE_BY_ZERO under ANSI; n<=1 -> std 0.0 is the reference closed
    # form (the numeric_stats_df degenerate rule).
    mean = F.try_divide(sc.cast("double"), n.cast("double") * 100.0)
    var_c = F.try_divide(
        (n * ssc - sc * sc).cast("double"), (n * (n - F.lit(1))).cast("double")
    )
    std = F.when(n > F.lit(1), F.sqrt(var_c) / 100.0).otherwise(F.lit(0.0))
    return (
        sink.groupBy("key")
        .agg(latest)
        .where(n > 0)  # a key with no finite values has no stats row
        .select(
            "key",
            n.alias("n"),
            F.round(mean, 6).alias("mean"),
            F.round(std, 6).alias("std"),
        )
        .orderBy("key")
    )


ORACLES["streaming_running_stats"] = """
WITH cents AS (
  -- NULL/NaN/±Inf are MISSING and skipped (the state kernel's
  -- isfinite mask); n<=1 -> std 0.0 (the degenerate closed form)
  SELECT user_id::VARCHAR AS key, round(value * 100)::BIGINT AS c
  FROM events WHERE value IS NOT NULL AND isfinite(value)
),
agg AS (
  SELECT key, count(*)::BIGINT AS n, sum(c)::BIGINT AS sum_c, sum(c * c)::BIGINT AS sumsq_c
  FROM cents GROUP BY key
)
SELECT key, n,
       round(sum_c::DOUBLE / (n::DOUBLE * 100.0), 6) AS mean,
       round(CASE WHEN n > 1
             THEN sqrt((n * sumsq_c - sum_c * sum_c)::DOUBLE / (n * (n - 1))::DOUBLE) / 100.0
             ELSE 0.0 END, 6) AS std
FROM agg ORDER BY key
"""


ORACLES["streaming_minhash_dedup"] = """
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                 i -> array_to_string(toks[i:i+2], ' ')))) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
),
minh AS (
  SELECT doc_id, k, min(md5(k::VARCHAR || '|' || s)) AS minhash
  FROM sh CROSS JOIN generate_series(0, 7) g(k)
  GROUP BY doc_id, k
),
sig AS (
  SELECT doc_id, string_agg(minhash, '|' ORDER BY k) AS signature
  FROM minh GROUP BY doc_id
)
SELECT min(doc_id)::BIGINT AS rep_id, count(*)::BIGINT AS n_docs
FROM sig GROUP BY signature ORDER BY rep_id
"""


@query("streaming_eval_metrics", stage="streaming")
def streaming_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming model eval — the streaming twin of the §2.6 eval family
    (ConfusionMatrix.java / PerformanceEvaluator): per event-time day
    window, the stream accumulates per-score (pos, neg) counts
    (streaming/eval.streaming_score_counts — the sufficient statistic
    for every threshold curve), then AUC + fixed-threshold confusion
    finalize per window (auc_confusion_per_window, the same tied-rank
    Mann-Whitney formula as batch roc_auc). Bounded availableNow replay
    into a memory sink makes the result identical to the batch
    computation the oracle runs; the production path is the
    foreachBatch parquet sink (start_eval_monitor_foreach_batch,
    pinned in tests/test_streaming_ops.py)."""
    from shifu_spark.functions.nonvalue import is_value
    from shifu_spark.streaming.eval import auc_confusion_per_window, streaming_score_counts

    s = _events_stream(spark, sf_dir)
    # unrankable scores are not eval points (the batch eval convention):
    # a bare floor would silently score NaN as 0 and +Inf as Long.MAX —
    # the is_value guard NULLs them and streaming_score_counts drops NULLs
    counts = streaming_score_counts(
        s,
        score=F.when(is_value(F.col("value")), F.floor("value")).cast("long"),
        pos=F.col("event_type").isin("purchase", "signup"),
        ts_col="ts",
        window="1 day",
        watermark="0 seconds",
    )
    sink = _run_stream_to_sink(spark, counts, "seval")
    return auc_confusion_per_window(sink, threshold=100.0).withColumn(
        "window_start", F.col("window_start").cast("timestamp")
    )


ORACLES["streaming_eval_metrics"] = """
WITH pts AS (
  -- unrankable (NULL/NaN/±Inf) scores are not eval points; NULL-ts
  -- events cannot be event-time windowed (the stream drops them)
  SELECT date_trunc('day', ts)::TIMESTAMP AS window_start,
         floor(value)::BIGINT AS score,
         sum(CASE WHEN event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END) AS pos,
         sum(CASE WHEN event_type IN ('purchase', 'signup') THEN 0 ELSE 1 END) AS neg
  FROM events
  WHERE value IS NOT NULL AND isfinite(value) AND ts IS NOT NULL
  GROUP BY 1, 2
),
ranked AS (
  SELECT window_start, score, pos, neg,
         sum(pos + neg) OVER (PARTITION BY window_start ORDER BY score)
           - (pos + neg - 1) / 2.0 AS avg_rank
  FROM pts
),
agg AS (
  SELECT window_start, sum(pos) AS p, sum(neg) AS nn,
         sum(avg_rank * pos) AS rank_sum,
         sum(CASE WHEN score >= 100.0 THEN pos ELSE 0 END) AS tp,
         sum(CASE WHEN score >= 100.0 THEN neg ELSE 0 END) AS fp
  FROM ranked GROUP BY window_start
)
SELECT window_start,
       round(CASE WHEN p > 0 AND nn > 0
             THEN (rank_sum - p * (p + 1) / 2.0) / (p * nn) END, 6) AS auc,
       tp::BIGINT AS tp, fp::BIGINT AS fp,
       (p - tp)::BIGINT AS fn, (nn - fp)::BIGINT AS tn
FROM agg ORDER BY window_start
"""


@query("chunk_dup_fraction", stage="dedup")
def chunk_dup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-granular exact-substring dedup stats (Lee et al., ACL 2022
    fixed-chunk approximation; operators/dedup.chunk_dup_fraction_df):
    per doc, the fraction of its non-overlapping 8-token chunks that
    also appear in another document. One shuffle on the chunk digest +
    a candidate-keyed join — the doc-level complement of exact_dedup
    (whole-text) and minhash (near-dup): this one localizes WHERE the
    duplication lives."""
    from shifu_spark.operators.dedup import chunk_dup_fraction_df

    return chunk_dup_fraction_df(_docs(spark, sf_dir)).orderBy("doc_id")


ORACLES["chunk_dup_fraction"] = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
chunks AS (
  SELECT doc_id, len(ws) // 8 AS n_chunks,
         unnest(list_transform(range(0, len(ws) // 8),
                i -> array_to_string(ws[i*8+1:i*8+8], ' '))) AS chunk
  FROM toks
),
per_doc AS (SELECT DISTINCT doc_id, n_chunks, chunk FROM chunks),
cross_docs AS (
  SELECT chunk, count(DISTINCT doc_id) AS n_docs FROM per_doc GROUP BY chunk
),
flagged AS (
  SELECT p.doc_id, p.n_chunks, CASE WHEN c.n_docs > 1 THEN 1 ELSE 0 END AS is_dup
  FROM per_doc p JOIN cross_docs c USING (chunk)
)
SELECT doc_id, max(n_chunks)::INT AS n_chunks,
       sum(is_dup)::INT AS n_dup_chunks,
       round(sum(is_dup)::DOUBLE / max(n_chunks), 6) AS dup_fraction
FROM flagged GROUP BY doc_id ORDER BY doc_id
"""


@query("unigram_logprob_quality", stage="text")
def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-based quality scoring (the perplexity-filter stage of an LLM
    data pipeline, CCNet-style): per-doc mean unigram log-prob + OOV
    rate under a broadcast pinned vocab (text.unigram_logprob_exprs —
    map-literal lookup + higher-order fold, no explode, no shuffle).
    Dyadic-rational log-probs make the fold exact, so the oracle's
    summation order can't diverge."""
    from shifu_spark.operators.text import unigram_logprob_exprs

    docs = _docs(spark, sf_dir)
    mean_lp, oov_rate = unigram_logprob_exprs("text")
    return docs.select(
        "doc_id",
        F.round(mean_lp, 6).alias("mean_logprob"),
        F.round(oov_rate, 6).alias("oov_rate"),
    ).orderBy("doc_id")


def _unigram_oracle() -> str:
    from shifu_spark.operators.text import UNIGRAM_LOGPROB, UNIGRAM_OOV_LOGPROB

    whens = " ".join(
        f"WHEN '{w}' THEN CAST({lp!r} AS DOUBLE)" for w, lp in sorted(UNIGRAM_LOGPROB.items())
    )
    lp_case = f"CASE w {whens} ELSE CAST({UNIGRAM_OOV_LOGPROB!r} AS DOUBLE) END"
    in_vocab = ", ".join(f"'{w}'" for w in sorted(UNIGRAM_LOGPROB))
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
scored AS (
  SELECT doc_id,
         list_sum(list_transform(ws, w -> {lp_case})) AS total,
         len(ws) AS n,
         len(list_filter(ws, w -> w NOT IN ({in_vocab}))) AS oov
  FROM toks
)
SELECT doc_id,
       round(total / n, 6) AS mean_logprob,
       round(oov::DOUBLE / n, 6) AS oov_rate
FROM scored ORDER BY doc_id
"""


ORACLES["unigram_logprob_quality"] = _unigram_oracle()


@query("streaming_dim_enrichment", stage="streaming")
def streaming_dim_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the remaining core Structured
    Streaming pattern (stream joined to a broadcast dimension BEFORE the
    stateful agg; Spark replans the static side per micro-batch, no join
    state is kept): events stream x customer dim on user_id, then
    windowed per-(day, mktsegment) counts + exact decimal value sums.
    availableNow replay makes it equal the batch join the oracle runs."""
    from shifu_spark.functions.nonvalue import is_value as _nv_is_value_dim

    s = _events_stream(spark, sf_dir)
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    joined = s.join(F.broadcast(dim), "user_id")
    agg = (
        joined.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 day").alias("w"), "segment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # non-finite values are MISSING: null before the DECIMAL cast
            F.round(
                F.sum(
                    F.when(_nv_is_value_dim(F.col("value")), F.col("value")).cast(
                        "decimal(38,10)"
                    )
                ).cast("double"),
                4,
            ).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "segment", "n", "sum_value")
    )
    sink = _run_stream_to_sink(spark, agg, "enrich")
    return sink.withColumn("window_start", F.col("window_start").cast("timestamp")).orderBy(
        "window_start", "segment"
    )


ORACLES["streaming_dim_enrichment"] = """
-- NULL-ts events cannot be event-time windowed; non-finite values are
-- MISSING and skip the sum (the CASE mirrors the Spark-side is_value)
SELECT date_trunc('day', ts)::TIMESTAMP AS window_start,
       c_mktsegment AS segment, count(*) AS n,
       round(sum(cast(CASE WHEN value IS NOT NULL AND isfinite(value)
                           THEN value END AS DECIMAL(38,10)))::DOUBLE, 4) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE e.ts IS NOT NULL
GROUP BY 1, 2 ORDER BY 1, 2
"""


@query("streaming_attribution_join", stage="streaming")
def streaming_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM interval join — the canonical
    attribution pattern and the last core Structured Streaming join
    shape (state on BOTH sides, bounded by the watermark + the time
    range): each purchase event joins the same user's click events in
    the preceding 30 minutes; the append-mode pair stream lands in the
    sink and a batch rollup counts attributed pairs per user. Bounded
    availableNow replay equals the batch interval self-join the oracle
    runs."""
    s = _events_stream(spark, sf_dir)
    clicks = (
        s.where(F.col("event_type") == "click")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
    )
    purchases = (
        s.where(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
    )
    pairs = purchases.join(
        clicks,
        F.expr(
            "c_user = p_user AND c_ts >= p_ts - INTERVAL 30 MINUTES AND c_ts <= p_ts"
        ),
    ).select("p_user", "purchase_id", "click_id")
    sink = _run_stream_to_files(spark, pairs, "attr")
    return (
        sink.groupBy(F.col("p_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.count_distinct("purchase_id").alias("n_purchases"),
        )
        .orderBy("user_id")
    )


ORACLES["streaming_attribution_join"] = """
SELECT p.user_id AS user_id, count(*) AS n_pairs,
       count(DISTINCT p.event_id) AS n_purchases
FROM events p JOIN events c
  ON c.user_id = p.user_id
 AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
GROUP BY 1 ORDER BY user_id
"""


@query("streaming_heavy_hitters", stage="streaming")
def streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters: per event-time day window, the top-3
    user_ids by event count (streaming/ops.streaming_windowed_key_counts
    state + top_k_per_window finalize). The standard training-data
    pipeline op for spotting dominant sources/spammers in an ingest
    stream; availableNow replay makes the result equal the batch top-k
    the oracle computes. Ranking is window-partitioned (count desc,
    key asc) — deterministic and parallel across windows."""
    from shifu_spark.streaming.ops import streaming_windowed_key_counts, top_k_per_window

    s = _events_stream(spark, sf_dir)
    counts = streaming_windowed_key_counts(
        s, "user_id", ts_col="ts", window="1 day", watermark="0 seconds"
    )
    sink = _run_stream_to_sink(spark, counts, "hh")
    return top_k_per_window(sink, k=3).withColumn(
        "window_start", F.col("window_start").cast("timestamp")
    )


ORACLES["streaming_heavy_hitters"] = """
WITH counts AS (
  -- NULL-ts events cannot be event-time windowed (the stream drops
  -- them); NULL keys group like any other (both engines) — NULLS FIRST
  -- pins the tiebreak to Spark's ascending NULL order
  SELECT date_trunc('day', ts)::TIMESTAMP AS window_start,
         user_id AS key, count(*) AS cnt
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
ranked AS (
  SELECT window_start, key, cnt,
         row_number() OVER (PARTITION BY window_start
                            ORDER BY cnt DESC, key ASC NULLS FIRST) AS rank
  FROM counts
)
SELECT window_start, rank::INT AS rank, key, cnt::BIGINT AS cnt
FROM ranked WHERE rank <= 3 ORDER BY window_start, rank
"""


@query("hybrid_column_woe", stage="norm")
def hybrid_column_woe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid (ColumnType.H) column end-to-end: l_quantity with sentinel
    values 1/2 collected as categories (hybridThreshold=3,
    BinningPartialDataUDF:119-135) and numeric bins [3,20) [20,40) [40,∞).
    Slot layout [numeric][cate][missing] (BinUtils hybrid split); lookup
    is categorical-first (woeNormalize:622-640). Output: per-row slot +
    that slot's count-woe."""
    from shifu_spark.operators.binning import hybrid_bin_index_expr
    from shifu_spark.operators.ksiv import woe_df

    li = _t(spark, sf_dir, "lineitem")
    slot = hybrid_bin_index_expr("l_quantity", [3.0, 20.0, 40.0], ["1.00", "2.00"])
    is_pos = F.col("l_returnflag") == "R"
    t = li.select(
        "l_orderkey", "l_linenumber", slot.cast("int").alias("slot"),
        F.when(is_pos, 1).otherwise(0).alias("y"),
    )
    counts = t.groupBy("slot").agg(F.sum("y").alias("pos"), F.sum(F.lit(1) - F.col("y")).alias("neg"))
    woes = woe_df(counts, "pos", "neg").select("slot", F.round("woe", 6).alias("woe"))
    return t.join(F.broadcast(woes), "slot").select("l_orderkey", "l_linenumber", "slot", "woe")


ORACLES["hybrid_column_woe"] = """
WITH t AS (
  SELECT l_orderkey, l_linenumber,
         (CASE WHEN l_quantity IS NULL OR NOT isfinite(l_quantity) THEN 5  -- missing slot (hybrid layout [numeric][cate][missing])
               WHEN l_quantity = 1 THEN 3
               WHEN l_quantity = 2 THEN 4
               WHEN l_quantity >= 40 THEN 2
               WHEN l_quantity >= 20 THEN 1
               ELSE 0 END)::INT AS slot,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem
),
woes AS (
  SELECT slot,
         round(ln((sum(1 - y)::DOUBLE / (sum(sum(1 - y)::DOUBLE) OVER ()) + 1e-10)
                  / (sum(y)::DOUBLE / (sum(sum(y)::DOUBLE) OVER ()) + 1e-10)), 6) AS woe
  FROM t GROUP BY slot
)
SELECT t.l_orderkey, t.l_linenumber, t.slot, w.woe
FROM t JOIN woes w USING (slot)
"""


@query("eval_meta_score", stage="eval")
def eval_meta_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta-score / champion-challenger eval
    (EvalModelProcessor.runDistMetaScore:1007, EvalScoreMetaSort.pig,
    udf/ColumnProjector.java): an external score column — here
    l_discount standing in for a challenger model's output — through the
    full metric stack: ROC AUC, PR AUC, KS. The curve operator is
    column-agnostic, so meta-scoring is pointing curve_metrics_df at the
    other column. Its AUC is the trapezoid; the oracle's is in
    Mann-Whitney rank form, so the gate cross-checks two formulas."""
    from shifu_spark.operators.eval_metrics import curve_metrics_df

    li = _t(spark, sf_dir, "lineitem")
    return curve_metrics_df(li, "l_discount", F.col("l_returnflag") == "R")


ORACLES["eval_meta_score"] = """
WITH pts AS (
  SELECT l_discount AS score,
         count(*) AS n,
         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS pos,
         sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS neg
  -- unrankable (NULL/NaN/±Inf) scores are not eval points
  FROM lineitem WHERE l_discount IS NOT NULL AND isfinite(l_discount) GROUP BY 1
),
ranked AS (
  SELECT n, pos,
         sum(n) OVER (ORDER BY score) - (n - 1) / 2.0 AS avg_rank,
         sum(pos) OVER () AS tot_p, sum(n) OVER () AS tot
  FROM pts
),
auc_t AS (
  SELECT round((sum(avg_rank * pos) - max(tot_p) * (max(tot_p) + 1) / 2.0)
               / (max(tot_p) * (max(tot) - max(tot_p))), 6) AS auc
  FROM ranked
),
cum AS (
  SELECT sum(pos) OVER (ORDER BY score DESC) AS tp,
         sum(neg) OVER (ORDER BY score DESC) AS fp,
         sum(pos) OVER () AS tot_p, sum(neg) OVER () AS tot_n
  FROM pts
),
curve AS (
  SELECT tp::DOUBLE / (tp + fp) AS precision, tp::DOUBLE / tot_p AS recall,
         fp::DOUBLE / tot_n AS fpr
  FROM cum
),
pr_t AS (
  -- tie order pinned to precision DESC == the score-descending scan
  SELECT round(sum((recall - prev_r) * (precision + prev_p) / 2.0), 6) AS pr_auc
  FROM (SELECT recall, precision,
               lag(recall) OVER (ORDER BY recall, precision DESC) AS prev_r,
               lag(precision) OVER (ORDER BY recall, precision DESC) AS prev_p
        FROM curve)
  WHERE prev_r IS NOT NULL
),
ks_t AS (SELECT round(max(recall - fpr), 6) AS ks FROM curve)
SELECT auc, pr_auc, ks FROM auc_t CROSS JOIN pr_t CROSS JOIN ks_t
"""


@query("reason_codes", stage="train")
def reason_codes_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reason codes (CalculateReasonCodeUDF): top-2 |w·x| features per
    row for a fixed linear model, joined to one string for hashing."""
    from shifu_spark.ml.posttrain import reason_codes_linear

    li = _t(spark, sf_dir, "lineitem")
    out = reason_codes_linear(li, list(_SENS_W), list(_SENS_W.values()), top_k=2)
    return out.select(
        "l_orderkey", "l_linenumber", F.array_join("reason_codes", ",").alias("reasons")
    ).orderBy("l_orderkey", "l_linenumber")


ORACLES["reason_codes"] = f"""
WITH contrib AS (
  SELECT l_orderkey, l_linenumber,
         -- missing (NULL/NaN/Inf) features contribute 0 — never a reason
         [{{'a': CASE WHEN l_quantity IS NOT NULL AND isfinite(l_quantity) THEN abs(l_quantity * 0.08) ELSE 0.0 END, 'name': 'l_quantity'}},
          {{'a': CASE WHEN l_discount IS NOT NULL AND isfinite(l_discount) THEN abs(l_discount * -12.0) ELSE 0.0 END, 'name': 'l_discount'}},
          {{'a': CASE WHEN l_tax IS NOT NULL AND isfinite(l_tax) THEN abs(l_tax * 5.0) ELSE 0.0 END, 'name': 'l_tax'}}] AS entries
  FROM lineitem
)
SELECT l_orderkey, l_linenumber,
       array_to_string(list_transform(list_slice(list_reverse_sort(entries), 1, 2), s -> s.name), ',') AS reasons
FROM contrib ORDER BY l_orderkey, l_linenumber
"""


@query("tree_path_encoding", stage="train")
def tree_path_encoding_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tree-path leaf encoding (EncodeDataUDF) with a seeded RF — leaf ids
    are MLlib-internal so this is a rows-only check, made
    semi-verifiable (VERDICT r6 #5): every input row must encode
    (coverage), the distinct leaf count must respect the depth bound
    (≤ 2^3), both asserted in-query; the hash-checked pinned sibling
    tree_path_encoding_pinned covers the exact lookup arithmetic."""
    from shifu_spark.ml.posttrain import tree_path_encode
    from shifu_spark.ml.train import TrainParams, assemble_features, train_models

    from shifu_spark.functions.nonvalue import is_value

    li = _t(spark, sf_dir, "lineitem")
    # mean-impute non-finite features BEFORE the trees, exactly as the
    # production pipeline's normalize step does (Normalizer missing ->
    # mean): MLlib vectors hard-reject NaN/Inf, so one dirty row would
    # otherwise kill the whole fit
    q, d = F.col("l_quantity"), F.col("l_discount")
    # n_in rides the means pass: df below is a 1:1 projection of li, so
    # count(*) here equals the df.count() the coverage sentinel needs —
    # the r11 form paid a SECOND full impute scan just for that count
    # (r12, guide §1.2)
    means = li.agg(
        F.avg(F.when(is_value(q), q)).alias("mq"),
        F.avg(F.when(is_value(d), d)).alias("md"),
        F.count(F.lit(1)).alias("n_in"),
    ).collect()[0]
    df = li.select(
        F.when(is_value(q), q).otherwise(F.lit(float(means["mq"]))).alias("f1"),
        F.when(is_value(d), d).otherwise(F.lit(float(means["md"]))).alias("f2"),
        # planted learnable label: a no-signal label leaves the forest
        # unsplit and the whole table in one leaf — vacuous sentinel
        F.when(F.col("l_discount") > 0.05, 1.0).otherwise(0.0).alias("label"),
    )
    assembled = assemble_features(df, ["f1", "f2"], "label")
    model = train_models(assembled, TrainParams(algorithm="RF", trees=3, max_depth=3, seed=42), 2)[0]
    enc = tree_path_encode(df, ["f1", "f2"], model)
    hist = (
        enc.select(F.col("tree_leaves").getItem(0).alias("leaf0"))
        .groupBy("leaf0").count().orderBy("leaf0").collect()
    )
    n_in, n_enc = int(means["n_in"]), sum(r["count"] for r in hist)
    if n_enc != n_in:
        raise ValueError(f"tree-path sentinel: encoded {n_enc} of {n_in} rows")
    if not 2 <= len(hist) <= 8:
        raise ValueError(f"tree-path sentinel: {len(hist)} leaves outside [2, 2^3]")
    return local_frame(
        spark,
        [(r["leaf0"], r["count"], True, True) for r in hist],
        "leaf0 int, count long, coverage_ok boolean, leaf_bound_ok boolean",
    )


# Fixture trees with literal thresholds (preorder parallel arrays, the
# extract_tree layout). The operator under test is the path/leaf lookup
# (EncodeDataUDF.java:45-120), not the fit — pinning the trees makes the
# encoding SQL-expressible, so the oracle is an exact CASE mirror.
_PINNED_TREES = [
    {  # root: f1<=25 -> (f2<=0.05 -> leaf2 | leaf3) | (f1<=40 -> leaf5 | leaf6)
        "feature": [0, 1, -1, -1, 0, -1, -1],
        "threshold": [25.0, 0.05, 0.0, 0.0, 40.0, 0.0, 0.0],
        "left": [1, 2, -1, -1, 5, -1, -1],
        "right": [4, 3, -1, -1, 6, -1, -1],
        "prediction": [0.0] * 7,
    },
    {  # root: f2<=0.03 -> leaf1 | (f1<=30 -> leaf3 | leaf4)
        "feature": [1, -1, 0, -1, -1],
        "threshold": [0.03, 0.0, 30.0, 0.0, 0.0],
        "left": [1, -1, 3, -1, -1],
        "right": [2, -1, 4, -1, -1],
        "prediction": [0.0] * 5,
    },
]


@query("tree_path_encoding_pinned", stage="train")
def tree_path_encoding_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tree-path leaf encoding against PINNED fixture trees — the
    hash-checkable half of EncodeDataUDF.java:45-120 (pure leaf lookup;
    the seeded-RF variant above stays rows-only because MLlib leaf ids
    aren't SQL-expressible). Vectorized traversal, one scan, no shuffle."""
    from shifu_spark.ml.posttrain import tree_path_encode_trees

    li = _t(spark, sf_dir, "lineitem")
    df = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("f1"),
        F.col("l_discount").cast("double").alias("f2"),
    )
    enc = tree_path_encode_trees(
        df, ["f1", "f2"], _PINNED_TREES, keep_cols=["l_orderkey", "l_linenumber"]
    )
    return enc.select(
        "l_orderkey",
        "l_linenumber",
        F.col("tree_leaves").getItem(0).alias("leaf0"),
        F.col("tree_leaves").getItem(1).alias("leaf1"),
    ).orderBy("l_orderkey", "l_linenumber")


ORACLES["tree_path_encoding_pinned"] = """
SELECT l_orderkey, l_linenumber,
       (CASE WHEN l_quantity <= 25.0
             THEN CASE WHEN l_discount <= 0.05 THEN 2 ELSE 3 END
             ELSE CASE WHEN l_quantity <= 40.0 THEN 5 ELSE 6 END
        END)::INTEGER AS leaf0,
       (CASE WHEN l_discount <= 0.03 THEN 1
             ELSE CASE WHEN l_quantity <= 30.0 THEN 3 ELSE 4 END
        END)::INTEGER AS leaf1
FROM lineitem ORDER BY l_orderkey, l_linenumber
"""


@query("nn_forward_pinned", stage="train")
def nn_forward_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NN scoring with PINNED weights — the hash-checkable half of the
    NN family (the fit stays rows-only; scoring is EvalScoreUDF.java
    model-forward semantics). Drives the REAL scoring path — ml/nn's
    ``nn_score_udf`` → ``_forward`` over the flat broadcast weight
    layout — against a literal [3, 2, 1] all-SIGMOID net; the oracle
    is the same closed-form expression in SQL. |z| for the output layer
    is < 3, far from the ±35 sigmoid clip, so the clip-free oracle is
    exact."""
    from shifu_spark.ml.nn import NNResult, nn_score_udf

    li = _t(spark, sf_dir, "lineitem")
    df = li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_quantity") / 50.0).alias("x1"),
        (F.col("l_discount") * 10.0).alias("x2"),
        (F.col("l_tax") * 10.0).alias("x3"),
    )
    # flat layout per ml/nn._shapes: layer mats row-major, bias last row
    weights = [
        0.5, -0.3,   # x1 -> h1, h2
        1.2, 0.4,    # x2
        -0.7, 0.9,   # x3
        0.1, -0.2,   # hidden bias
        1.5, -1.1,   # h -> out
        0.25,        # out bias
    ]
    net = NNResult(weights=weights, layers=[3, 2, 1], activations=["SIGMOID", "SIGMOID"])
    return df.select(
        "l_orderkey",
        "l_linenumber",
        F.round(nn_score_udf(["x1", "x2", "x3"], net), 6).alias("score"),
    ).orderBy("l_orderkey", "l_linenumber")


ORACLES["nn_forward_pinned"] = """
WITH x AS (
  SELECT l_orderkey, l_linenumber,
         l_quantity / 50.0 AS x1, l_discount * 10.0 AS x2, l_tax * 10.0 AS x3
  FROM lineitem
),
h AS (
  SELECT l_orderkey, l_linenumber,
         1.0 / (1.0 + exp(-(0.5*x1 + 1.2*x2 + -0.7*x3 + 0.1))) AS h1,
         1.0 / (1.0 + exp(-(-0.3*x1 + 0.4*x2 + 0.9*x3 + -0.2))) AS h2
  FROM x
)
SELECT l_orderkey, l_linenumber,
       round(1.0 / (1.0 + exp(-(1.5*h1 + -1.1*h2 + 0.25))), 6) AS score
FROM h ORDER BY l_orderkey, l_linenumber
"""


@query("lr_forward_pinned", stage="train")
def lr_forward_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LR scoring with PINNED weights — the hash-checkable half of the
    LR family (the SGD fit stays rows-only; scoring is the reference's
    LR.compute / EvalScoreUDF path: sigmoid(w·x + b)). Drives the REAL
    scoring expression — ml/sgd's ``lr_score_expr`` over the
    [w..., b] weight layout train_lr_sgd produces — against literal
    weights; the oracle is the same closed-form sigmoid in SQL.
    One scan, pure JVM expression, no shuffle."""
    from shifu_spark.ml.sgd import lr_score_expr

    li = _t(spark, sf_dir, "lineitem")
    df = li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_quantity") / 50.0).alias("x1"),
        (F.col("l_discount") * 10.0).alias("x2"),
        (F.col("l_tax") * 10.0).alias("x3"),
    )
    weights = [0.8, -1.3, 0.45, 0.2]  # [w1, w2, w3, bias]
    return df.select(
        "l_orderkey",
        "l_linenumber",
        F.round(lr_score_expr(["x1", "x2", "x3"], weights), 6).alias("score"),
    ).orderBy("l_orderkey", "l_linenumber")


ORACLES["lr_forward_pinned"] = """
WITH x AS (
  SELECT l_orderkey, l_linenumber,
         l_quantity / 50.0 AS x1, l_discount * 10.0 AS x2, l_tax * 10.0 AS x3
  FROM lineitem
)
SELECT l_orderkey, l_linenumber,
       round(1.0 / (1.0 + exp(-(0.2 + x1*0.8 + x2*-1.3 + x3*0.45))), 6) AS score
FROM x ORDER BY l_orderkey, l_linenumber
"""


# Fixture trees WITH leaf predictions (same preorder parallel-array
# layout as _PINNED_TREES): the operator under test is the ensemble
# forward (traversal + leaf-prediction weighted average,
# IndependentTreeModel.java:390-445 + predictNode:516), not the fit.
_PINNED_RF_TREES = [
    {
        "feature": [0, 1, -1, -1, 0, -1, -1],
        "threshold": [25.0, 0.05, 0.0, 0.0, 40.0, 0.0, 0.0],
        "left": [1, 2, -1, -1, 5, -1, -1],
        "right": [4, 3, -1, -1, 6, -1, -1],
        "prediction": [0.0, 0.0, 0.1, 0.9, 0.0, 0.4, 0.7],
    },
    {
        "feature": [1, -1, 0, -1, -1],
        "threshold": [0.03, 0.0, 30.0, 0.0, 0.0],
        "left": [1, -1, 3, -1, -1],
        "right": [2, -1, 4, -1, -1],
        "prediction": [0.0, 0.2, 0.0, 0.8, 0.5],
    },
]


@query("rf_forward_pinned", stage="train")
def rf_forward_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RF scoring with PINNED fixture trees — the hash-checkable half of
    the RF family (the fit stays rows-only). Drives the REAL paths:
    ``tree_path_encode_trees`` (the vectorized predictNode traversal)
    then ``tree_forward_score`` (IndependentTreeModel.java:429-441
    weighted-average combine, here with unequal tree weights 0.6/0.4 to
    exercise the weight path). The oracle mirrors each tree as a CASE
    chain and the same left-to-right weighted fold."""
    from shifu_spark.ml.posttrain import tree_forward_score, tree_path_encode_trees

    li = _t(spark, sf_dir, "lineitem")
    df = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("f1"),
        F.col("l_discount").cast("double").alias("f2"),
    )
    enc = tree_path_encode_trees(
        df, ["f1", "f2"], _PINNED_RF_TREES, keep_cols=["l_orderkey", "l_linenumber"]
    )
    score = tree_forward_score(_PINNED_RF_TREES, weights=[0.6, 0.4], mode="rf")
    return enc.select(
        "l_orderkey",
        "l_linenumber",
        F.round(score, 6).alias("score"),
    ).orderBy("l_orderkey", "l_linenumber")


ORACLES["rf_forward_pinned"] = """
WITH p AS (
  SELECT l_orderkey, l_linenumber,
         (CASE WHEN l_quantity <= 25.0
               THEN CASE WHEN l_discount <= 0.05 THEN 0.1 ELSE 0.9 END
               ELSE CASE WHEN l_quantity <= 40.0 THEN 0.4 ELSE 0.7 END
          END)::DOUBLE AS p0,
         (CASE WHEN l_discount <= 0.03 THEN 0.2
               ELSE CASE WHEN l_quantity <= 30.0 THEN 0.8 ELSE 0.5 END
          END)::DOUBLE AS p1
  FROM lineitem
)
SELECT l_orderkey, l_linenumber,
       round((p0 * 0.6::DOUBLE + p1 * 0.4::DOUBLE) / 1.0::DOUBLE, 6) AS score
FROM p ORDER BY l_orderkey, l_linenumber
"""


@query("gbt_forward_pinned", stage="train")
def gbt_forward_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GBT scoring with PINNED fixture trees — completes the pinned
    scoring halves of the training family (LR/NN/RF/tree-path are the
    others). Same REAL traversal (tree_path_encode_trees) but the GBT
    combine: weighted SUM of per-tree predictions with per-tree
    learning-rate weights (IndependentTreeModel.java:390-417; raw-score
    strategy, the reference default GBT_SCORE_RAW_CONVETER). Oracle
    mirrors the same left-to-right weighted fold — no /weightSum, which
    is exactly what distinguishes GBT from the RF combine."""
    from shifu_spark.ml.posttrain import tree_forward_score, tree_path_encode_trees

    li = _t(spark, sf_dir, "lineitem")
    df = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("f1"),
        F.col("l_discount").cast("double").alias("f2"),
    )
    enc = tree_path_encode_trees(
        df, ["f1", "f2"], _PINNED_RF_TREES, keep_cols=["l_orderkey", "l_linenumber"]
    )
    score = tree_forward_score(_PINNED_RF_TREES, weights=[1.0, 0.1], mode="gbt")
    return enc.select(
        "l_orderkey",
        "l_linenumber",
        F.round(score, 6).alias("score"),
    ).orderBy("l_orderkey", "l_linenumber")


ORACLES["gbt_forward_pinned"] = """
WITH p AS (
  SELECT l_orderkey, l_linenumber,
         (CASE WHEN l_quantity <= 25.0
               THEN CASE WHEN l_discount <= 0.05 THEN 0.1 ELSE 0.9 END
               ELSE CASE WHEN l_quantity <= 40.0 THEN 0.4 ELSE 0.7 END
          END)::DOUBLE AS p0,
         (CASE WHEN l_discount <= 0.03 THEN 0.2
               ELSE CASE WHEN l_quantity <= 30.0 THEN 0.8 ELSE 0.5 END
          END)::DOUBLE AS p1
  FROM lineitem
)
SELECT l_orderkey, l_linenumber,
       round(p0 * 1.0::DOUBLE + p1 * 0.1::DOUBLE, 6) AS score
FROM p ORDER BY l_orderkey, l_linenumber
"""


# ---------------------------------------------------------------------------
# Normalize variants (SURVEY §2.8 — the remaining NormTypes as queries)
# ---------------------------------------------------------------------------


@query("onehot_normalize", stage="norm")
def onehot_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONEHOT transform (Normalizer.java:379-424): numeric -> bin one-hot
    (+ missing slot k for non-values). Equal-interval 5 bins on
    l_quantity; one scan + one select, bin edges from a broadcast 1-row
    min/max agg."""
    from shifu_spark.operators.binning import equal_interval_bin_expr

    li = _t(spark, sf_dir, "lineitem")
    k = 5
    b = F.coalesce(equal_interval_bin_expr(F.col("l_quantity"), F.col("mn"), F.col("mx"), k), F.lit(k))
    cols = [F.when(b == i, 1.0).otherwise(0.0).alias(f"q_bin{i}") for i in range(k + 1)]
    mm = _value_min_max(li, "l_quantity")
    return li.crossJoin(F.broadcast(mm)).select("l_orderkey", "l_linenumber", *cols)


ORACLES["onehot_normalize"] = """
WITH mm AS (SELECT min(l_quantity) AS mn, max(l_quantity) AS mx
            FROM lineitem WHERE l_quantity IS NOT NULL AND isfinite(l_quantity)),
binned AS (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN l_quantity IS NULL OR NOT isfinite(l_quantity) THEN 5
              WHEN mx = mn THEN 0
              ELSE least(floor((l_quantity - mn) / ((mx - mn) / 5)), 4) END AS bin
  FROM lineitem CROSS JOIN mm
)
SELECT l_orderkey, l_linenumber,
       (CASE WHEN bin = 0 THEN 1.0 ELSE 0.0 END)::DOUBLE AS q_bin0,
       (CASE WHEN bin = 1 THEN 1.0 ELSE 0.0 END)::DOUBLE AS q_bin1,
       (CASE WHEN bin = 2 THEN 1.0 ELSE 0.0 END)::DOUBLE AS q_bin2,
       (CASE WHEN bin = 3 THEN 1.0 ELSE 0.0 END)::DOUBLE AS q_bin3,
       (CASE WHEN bin = 4 THEN 1.0 ELSE 0.0 END)::DOUBLE AS q_bin4,
       (CASE WHEN bin = 5 THEN 1.0 ELSE 0.0 END)::DOUBLE AS q_bin5
FROM binned
"""


@query("discrete_zscore_normalize", stage="norm")
def discrete_zscore_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE_ZSCORE (Normalizer.java:468-500): snap to the bin lower
    boundary, then zscore with clip at mean±6σ; a non-value is missing
    (z = 0). Boundaries + moments over values from ONE broadcast agg
    row — still a single data pass."""
    from shifu_spark.functions.nonvalue import is_value
    from shifu_spark.operators.binning import equal_interval_bin_expr
    from shifu_spark.operators.normalize import zscore_sums_expr

    li = _t(spark, sf_dir, "lineitem")
    k = 5
    v = F.col("l_quantity").cast("double")
    val = F.when(is_value(v), v)
    mm = li.agg(
        F.min(val).alias("mn"),
        F.max(val).alias("mx"),
        F.count(val).alias("n"),
        F.sum(val.cast("decimal(38,10)")).cast("double").alias("s1"),
        F.sum((val * val).cast("decimal(38,10)")).cast("double").alias("s2"),
    )
    n, s1, s2, mn, mx = F.col("n"), F.col("s1"), F.col("s2"), F.col("mn"), F.col("mx")
    bin_ = equal_interval_bin_expr(v, mn, mx, k)
    snapped = mn + bin_ * ((mx - mn) / k)
    z = F.when(bin_.isNull(), F.lit(0.0)).otherwise(F.round(zscore_sums_expr(snapped, n, s1, s2), 6))
    return li.crossJoin(F.broadcast(mm)).select("l_orderkey", "l_linenumber", z.alias("dz_l_quantity"))


ORACLES["discrete_zscore_normalize"] = """
WITH mm AS (
  SELECT min(l_quantity) AS mn, max(l_quantity) AS mx,
         count(l_quantity)::DOUBLE AS n,
         sum(cast(l_quantity AS DECIMAL(38,10)))::DOUBLE AS s1,
         sum(cast(l_quantity*l_quantity AS DECIMAL(38,10)))::DOUBLE AS s2
  FROM lineitem WHERE l_quantity IS NOT NULL AND isfinite(l_quantity)
),
binned AS (
  SELECT l_orderkey, l_linenumber, l_quantity, mm.*,
         CASE WHEN l_quantity IS NULL OR NOT isfinite(l_quantity) THEN NULL
              WHEN mx = mn THEN 0
              ELSE least(floor((l_quantity - mn) / ((mx - mn) / 5)), 4) END AS bin
  FROM lineitem CROSS JOIN mm
)
SELECT l_orderkey, l_linenumber,
       CASE WHEN bin IS NULL THEN 0.0
            ELSE round((least(greatest(mn + bin * ((mx - mn) / 5),
                                       (s1/n) - 6*sqrt(abs((s2 - s1*s1/n + 1e-10)/(n-1)))),
                              (s1/n) + 6*sqrt(abs((s2 - s1*s1/n + 1e-10)/(n-1))))
                        - (s1/n)) / sqrt(abs((s2 - s1*s1/n + 1e-10)/(n-1))), 6) END AS dz_l_quantity
FROM binned
"""


@query("woe_zscore_normalize", stage="norm")
def woe_zscore_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WOE_ZSCORE (Normalizer.java:664-672): woe value, then z-score with
    the woe-population mean/std from bin counts
    (calculateWoeMeanAndStdDev:728-756). Bin-count arithmetic keeps the
    woe table tiny (k + 1 rows) and the constants exact. Non-values
    take the missing slot k."""
    from pyspark.sql import Window

    from shifu_spark.operators.binning import equal_interval_bin_expr
    from shifu_spark.operators.ksiv import woe_df
    from shifu_spark.operators.normalize import zscore_sums_expr

    li = _t(spark, sf_dir, "lineitem")
    k = 10
    binned = li.crossJoin(F.broadcast(_value_min_max(li, "l_quantity"))).withColumn(
        "bin", F.coalesce(equal_interval_bin_expr(F.col("l_quantity"), F.col("mn"), F.col("mx"), k), F.lit(k))
    )
    is_pos = F.col("l_returnflag") == "R"
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(is_pos, 1).otherwise(0)).alias("pos"),
        F.sum(F.when(is_pos, 0).otherwise(1)).alias("neg"),
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # woe-population power sums over ALL rows, computed from the k bin
    # rows; each bin's z is computed once, before the join
    woes = (
        woe_df(counts, "pos", "neg")
        .withColumn("cnt", F.col("pos") + F.col("neg"))
        .withColumn("tot", F.sum("cnt").over(wall))
        .withColumn("wsum", F.sum(F.col("cnt") * F.col("woe")).over(wall))
        .withColumn("wsum2", F.sum(F.col("cnt") * F.col("woe") * F.col("woe")).over(wall))
    )
    wz = zscore_sums_expr(F.col("woe"), F.col("tot"), F.col("wsum"), F.col("wsum2"))
    woes = woes.select("bin", F.round(wz, 6).alias("wz_l_quantity"))
    return binned.join(F.broadcast(woes), "bin").select("l_orderkey", "l_linenumber", "wz_l_quantity")


ORACLES["woe_zscore_normalize"] = """
WITH mm AS (SELECT min(l_quantity) AS mn, max(l_quantity) AS mx
            FROM lineitem WHERE l_quantity IS NOT NULL AND isfinite(l_quantity)),
binned AS (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN l_quantity IS NULL OR NOT isfinite(l_quantity) THEN 10
              WHEN mx = mn THEN 0
              ELSE least(floor((l_quantity - mn) / ((mx - mn) / 10)), 9) END AS bin,
         l_returnflag
  FROM lineitem CROSS JOIN mm
),
counts AS (
  SELECT bin,
         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::DOUBLE AS pos,
         sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)::DOUBLE AS neg
  FROM binned GROUP BY bin
),
woes AS (
  SELECT bin, pos + neg AS cnt,
         ln((neg / sum(neg) OVER () + 1e-10) / (pos / sum(pos) OVER () + 1e-10)) AS woe
  FROM counts
),
consts AS (
  SELECT bin, woe,
         sum(cnt * woe) OVER () / sum(cnt) OVER () AS wm,
         sqrt(abs((sum(cnt * woe * woe) OVER () - sum(cnt * woe) OVER () * sum(cnt * woe) OVER () / sum(cnt) OVER () + 1e-10)
                  / (sum(cnt) OVER () - 1))) AS ws
  FROM woes
)
SELECT b.l_orderkey, b.l_linenumber,
       round((least(greatest(w.woe, w.wm - 6*w.ws), w.wm + 6*w.ws) - w.wm) / w.ws, 6) AS wz_l_quantity
FROM binned b JOIN consts w USING (bin)
"""


@query("hybrid_normalize", stage="norm")
def hybrid_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID (Normalizer.java:687-700): numeric -> zscore, categorical ->
    woe — both in ONE select. Categorical woe table is per-category counts
    (CategoricalBinning), broadcast back."""
    from shifu_spark.operators.ksiv import woe_df

    li = _t(spark, sf_dir, "lineitem")
    is_pos = F.col("l_linestatus") == "F"
    counts = li.groupBy("l_returnflag").agg(
        F.sum(F.when(is_pos, 1).otherwise(0)).alias("pos"),
        F.sum(F.when(is_pos, 0).otherwise(1)).alias("neg"),
    )
    cate = woe_df(counts, "pos", "neg").select("l_returnflag", F.col("woe").alias("cate_woe"))
    mm, zq = _zscore_parts(li)
    return (
        li.crossJoin(F.broadcast(mm))
        .join(F.broadcast(cate), "l_returnflag")
        .select(
            "l_orderkey",
            "l_linenumber",
            zq.alias("z_l_quantity"),
            F.round("cate_woe", 6).alias("woe_l_returnflag"),
        )
    )


ORACLES["hybrid_normalize"] = """
WITH mm AS (
  SELECT count(l_quantity)::DOUBLE AS n,
         sum(cast(l_quantity AS DECIMAL(38,10)))::DOUBLE AS s1,
         sum(cast(l_quantity*l_quantity AS DECIMAL(38,10)))::DOUBLE AS s2
  FROM lineitem
),
cate AS (
  SELECT l_returnflag,
         ln(((sum(CASE WHEN l_linestatus = 'F' THEN 0 ELSE 1 END)::DOUBLE) / (sum(sum(CASE WHEN l_linestatus = 'F' THEN 0 ELSE 1 END)::DOUBLE) OVER ()) + 1e-10)
            / ((sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)::DOUBLE) / (sum(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)::DOUBLE) OVER ()) + 1e-10)) AS cate_woe
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_orderkey, l.l_linenumber,
       round((least(greatest(l.l_quantity, (s1/n) - 6*sqrt(abs((s2 - s1*s1/n + 1e-10)/(n-1)))),
                    (s1/n) + 6*sqrt(abs((s2 - s1*s1/n + 1e-10)/(n-1)))) - (s1/n))
             / sqrt(abs((s2 - s1*s1/n + 1e-10)/(n-1))), 6) AS z_l_quantity,
       round(c.cate_woe, 6) AS woe_l_returnflag
FROM lineitem l CROSS JOIN mm JOIN cate c USING (l_returnflag)
"""


def _zscore_parts(li):
    """Decimal-deterministic zscore pieces for l_quantity: the 1-row
    power-sum frame to broadcast and the rounded z column over it."""
    from shifu_spark.operators.normalize import zscore_sums_expr

    v = F.col("l_quantity").cast("double")
    mm = li.agg(
        F.count(v).alias("n"),
        F.sum(v.cast("decimal(38,10)")).cast("double").alias("s1"),
        F.sum((v * v).cast("decimal(38,10)")).cast("double").alias("s2"),
    )
    return mm, F.round(zscore_sums_expr(v, F.col("n"), F.col("s1"), F.col("s2")), 6)


_ZQ_SQL = """round((least(greatest(l.l_quantity, (s1/n) - 6*sqrt(abs((s2 - s1*s1/n + 1e-10)/(n-1)))),
                    (s1/n) + 6*sqrt(abs((s2 - s1*s1/n + 1e-10)/(n-1)))) - (s1/n))
             / sqrt(abs((s2 - s1*s1/n + 1e-10)/(n-1))), 6)"""

_MM_SQL = """SELECT count(l_quantity)::DOUBLE AS n,
         sum(cast(l_quantity AS DECIMAL(38,10)))::DOUBLE AS s1,
         sum(cast(l_quantity*l_quantity AS DECIMAL(38,10)))::DOUBLE AS s2
  FROM lineitem"""


@query("old_zscale_normalize", stage="norm")
def old_zscale_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLD_ZSCALE (Normalizer.java:444-452, zScoreNormalize isOld=true):
    numeric -> zscore exactly like ZSCALE, but categorical passes the raw
    binPosRate through UN-zscored — the legacy-config behavior."""
    li = _t(spark, sf_dir, "lineitem")
    is_pos = F.col("l_linestatus") == "F"
    cate = li.groupBy("l_returnflag").agg(
        F.round(F.avg(F.when(is_pos, 1.0).otherwise(0.0)), 6).alias("pr_l_returnflag")
    )
    mm, zq = _zscore_parts(li)
    return (
        li.crossJoin(F.broadcast(mm))
        .join(F.broadcast(cate), "l_returnflag")
        .select("l_orderkey", "l_linenumber", zq.alias("z_l_quantity"), "pr_l_returnflag")
    )


ORACLES["old_zscale_normalize"] = f"""
WITH mm AS ({_MM_SQL}),
cate AS (
  SELECT l_returnflag,
         round(avg(CASE WHEN l_linestatus = 'F' THEN 1.0 ELSE 0.0 END), 6) AS pr_l_returnflag
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_orderkey, l.l_linenumber, {_ZQ_SQL} AS z_l_quantity, c.pr_l_returnflag
FROM lineitem l CROSS JOIN mm JOIN cate c USING (l_returnflag)
"""


@query("weight_hybrid_normalize", stage="norm")
def weight_hybrid_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHT_HYBRID (Normalizer.java:687-700 isWeightedNorm=true):
    numeric -> zscore, categorical -> WEIGHTED woe (weight = l_quantity
    with the reference's null/negative->1.0 clamp)."""
    from shifu_spark.operators.ksiv import woe_df

    li = _t(spark, sf_dir, "lineitem")
    is_pos = F.col("l_linestatus") == "F"
    w = F.col("l_quantity").cast("double")
    w = F.when(w.isNull() | (w < 0), F.lit(1.0)).otherwise(w)
    counts = li.groupBy("l_returnflag").agg(
        F.sum(F.when(is_pos, w).otherwise(0.0).cast("decimal(38,10)")).cast("double").alias("wpos"),
        F.sum(F.when(is_pos, 0.0).otherwise(w).cast("decimal(38,10)")).cast("double").alias("wneg"),
    )
    cate = woe_df(counts, "wpos", "wneg").select("l_returnflag", F.round("woe", 6).alias("wwoe_l_returnflag"))
    mm, zq = _zscore_parts(li)
    return (
        li.crossJoin(F.broadcast(mm))
        .join(F.broadcast(cate), "l_returnflag")
        .select("l_orderkey", "l_linenumber", zq.alias("z_l_quantity"), "wwoe_l_returnflag")
    )


ORACLES["weight_hybrid_normalize"] = f"""
WITH mm AS ({_MM_SQL}),
cate AS (
  SELECT l_returnflag,
         round(ln((sum(cast(CASE WHEN l_linestatus = 'F' THEN 0.0 ELSE (CASE WHEN l_quantity IS NULL OR NOT isfinite(l_quantity) OR l_quantity < 0 THEN 1.0 ELSE l_quantity END) END AS DECIMAL(38,10)))::DOUBLE
                   / (sum(sum(cast(CASE WHEN l_linestatus = 'F' THEN 0.0 ELSE (CASE WHEN l_quantity IS NULL OR NOT isfinite(l_quantity) OR l_quantity < 0 THEN 1.0 ELSE l_quantity END) END AS DECIMAL(38,10)))::DOUBLE) OVER ()) + 1e-10)
                  / (sum(cast(CASE WHEN l_linestatus = 'F' THEN (CASE WHEN l_quantity IS NULL OR NOT isfinite(l_quantity) OR l_quantity < 0 THEN 1.0 ELSE l_quantity END) ELSE 0.0 END AS DECIMAL(38,10)))::DOUBLE
                     / (sum(sum(cast(CASE WHEN l_linestatus = 'F' THEN (CASE WHEN l_quantity IS NULL OR NOT isfinite(l_quantity) OR l_quantity < 0 THEN 1.0 ELSE l_quantity END) ELSE 0.0 END AS DECIMAL(38,10)))::DOUBLE) OVER ()) + 1e-10)), 6) AS wwoe_l_returnflag
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_orderkey, l.l_linenumber, {_ZQ_SQL} AS z_l_quantity, c.wwoe_l_returnflag
FROM lineitem l CROSS JOIN mm JOIN cate c USING (l_returnflag)
"""


@query("zscale_onehot_normalize", stage="norm")
def zscale_onehot_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZSCALE_ONEHOT (Normalizer.java zscaleOneHotNormalize:391-406):
    numeric -> zscore single column; categorical -> one-hot over category
    slots + a missing slot (unknown category gets the 1 there)."""
    li = _t(spark, sf_dir, "lineitem")
    cats = ["A", "N", "R"]  # l_returnflag category slots, catalog order
    mm, zq = _zscore_parts(li)
    oh = [
        F.when(F.col("l_returnflag") == c, 1.0).otherwise(0.0).alias(f"rf_bin{i}")
        for i, c in enumerate(cats)
    ] + [F.when(~F.col("l_returnflag").isin(cats), 1.0).otherwise(0.0).alias(f"rf_bin{len(cats)}")]
    return li.crossJoin(F.broadcast(mm)).select(
        "l_orderkey", "l_linenumber", zq.alias("z_l_quantity"), *oh
    )


ORACLES["zscale_onehot_normalize"] = f"""
WITH mm AS ({_MM_SQL})
SELECT l.l_orderkey, l.l_linenumber, {_ZQ_SQL} AS z_l_quantity,
       (CASE WHEN l.l_returnflag = 'A' THEN 1.0 ELSE 0.0 END)::DOUBLE AS rf_bin0,
       (CASE WHEN l.l_returnflag = 'N' THEN 1.0 ELSE 0.0 END)::DOUBLE AS rf_bin1,
       (CASE WHEN l.l_returnflag = 'R' THEN 1.0 ELSE 0.0 END)::DOUBLE AS rf_bin2,
       (CASE WHEN l.l_returnflag NOT IN ('A','N','R') THEN 1.0 ELSE 0.0 END)::DOUBLE AS rf_bin3
FROM lineitem l CROSS JOIN mm
"""


@query("category_missing_mean", stage="norm")
def category_missing_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CategoryMissingNormType=MEAN (Normalizer.java:579-596,
    defaultMissingValue:602-605): an unseen category fills with the
    column MEAN (here: overall positive rate — the mean of the 0/1
    posrate-carrying column) instead of the missing bin's posRate.
    Known slots are restricted to ('R','A') so 'N' rows exercise the
    missing path."""
    li = _t(spark, sf_dir, "lineitem")
    is_pos = F.col("l_linestatus") == "F"
    known = ["R", "A"]
    cate = (
        li.filter(F.col("l_returnflag").isin(known))
        .groupBy("l_returnflag")
        .agg(F.round(F.avg(F.when(is_pos, 1.0).otherwise(0.0)), 6).alias("pr"))
    )
    mean = li.agg(F.round(F.avg(F.when(is_pos, 1.0).otherwise(0.0)), 6).alias("mean_pr"))
    return (
        li.crossJoin(F.broadcast(mean))
        .join(F.broadcast(cate), "l_returnflag", "left")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.coalesce(F.col("pr"), F.col("mean_pr")).alias("val"),
        )
    )


ORACLES["category_missing_mean"] = """
WITH cate AS (
  SELECT l_returnflag, round(avg(CASE WHEN l_linestatus = 'F' THEN 1.0 ELSE 0.0 END), 6) AS pr
  FROM lineitem WHERE l_returnflag IN ('R','A') GROUP BY l_returnflag
),
m AS (SELECT round(avg(CASE WHEN l_linestatus = 'F' THEN 1.0 ELSE 0.0 END), 6) AS mean_pr FROM lineitem)
SELECT l.l_orderkey, l.l_linenumber, coalesce(c.pr, m.mean_pr) AS val
FROM lineitem l CROSS JOIN m LEFT JOIN cate c USING (l_returnflag)
"""


@query("categorical_index_normalize", stage="norm")
def categorical_index_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """*_INDEX NormType family (Normalizer.java:287-350 — embedding
    inputs): categorical columns emit the RAW bin index via the
    broadcast map expression (binning.categorical_index_expr, miss ->
    last slot); numeric columns keep their named transform (zscore
    here, broadcast 1-row stats). Drives the same index expression the
    normalize.py ZSCALE_INDEX dispatch uses."""
    from shifu_spark.operators.binning import categorical_index_expr

    li = _t(spark, sf_dir, "lineitem")
    cats = ["A", "N"]  # freq-ordered known categories; 'R' -> missing slot
    idx = categorical_index_expr("l_returnflag", cats)
    mm = li.agg(
        (F.sum(F.col("l_quantity").cast("decimal(38,10)")).cast("double") / F.count("l_quantity")).alias("mu"),
        F.stddev_samp("l_quantity").alias("sd"),
    )
    z = (F.col("l_quantity") - F.col("mu")) / F.col("sd")
    return li.crossJoin(F.broadcast(mm)).select(
        "l_orderkey",
        "l_linenumber",
        idx.cast("int").alias("flag_index"),
        F.round(F.least(F.greatest(z, F.lit(-6.0)), F.lit(6.0)), 6).alias("qty_z"),
    )


ORACLES["categorical_index_normalize"] = """
WITH mm AS (
  SELECT sum(l_quantity::DECIMAL(38,10))::DOUBLE / count(l_quantity) AS mu,
         stddev_samp(l_quantity) AS sd
  FROM lineitem
)
SELECT l_orderkey, l_linenumber,
       (CASE l_returnflag WHEN 'A' THEN 0 WHEN 'N' THEN 1 ELSE 2 END)::INT AS flag_index,
       round(least(greatest((l_quantity - mu) / sd, -6.0), 6.0), 6) AS qty_z
FROM lineitem CROSS JOIN mm
"""


@query("asis_woe_normalize", stage="norm")
def asis_woe_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASIS_WOE NormType (Normalizer.java:353-377): numeric columns pass
    through unchanged (try_cast double), categorical columns map to
    their bin's count-WOE. The WOE table is computed from the data with
    the reference's 1e-10 smoothing — same lookup the normalize.py
    ASIS_WOE dispatch runs."""
    from shifu_spark.operators.ksiv import woe_df

    li = _t(spark, sf_dir, "lineitem")
    pos = F.when(F.col("l_linestatus") == "F", 1.0).otherwise(0.0)
    counts = li.groupBy("l_returnflag").agg(F.sum(pos).alias("pos"), F.sum(F.lit(1.0) - pos).alias("neg"))
    woes = woe_df(counts, "pos", "neg").select("l_returnflag", "woe")
    return (
        li.join(F.broadcast(woes), "l_returnflag")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").try_cast("double").alias("qty_asis"),
            F.round("woe", 6).alias("flag_woe"),
        )
    )


ORACLES["asis_woe_normalize"] = """
WITH counts AS (
  SELECT l_returnflag,
         sum(CASE WHEN l_linestatus = 'F' THEN 1.0 ELSE 0.0 END) AS p,
         sum(CASE WHEN l_linestatus = 'F' THEN 0.0 ELSE 1.0 END) AS n
  FROM lineitem GROUP BY l_returnflag
),
woes AS (
  SELECT l_returnflag,
         ln((n / sum(n) OVER () + 1e-10) / (p / sum(p) OVER () + 1e-10)) AS woe
  FROM counts
)
SELECT l.l_orderkey, l.l_linenumber,
       l.l_quantity::DOUBLE AS qty_asis,
       round(w.woe, 6) AS flag_woe
FROM lineitem l JOIN woes w USING (l_returnflag)
"""


@query("invalid_tag_filter", stage="query")
def invalid_tag_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invalid-tag row filter (NormalizeUDF.java:262-278 via
    normalize.filter_valid_tags): rows whose tag is outside pos∪neg are
    DROPPED (the reference skips the record). events.event_type plays
    the tag; purchase/signup = pos, click/view = neg, error = invalid.
    Output: per-tag survivor counts + recoded tag sum proving both the
    drop and the 1/0 recode (normalize.tag_expr)."""
    from shifu_spark.operators.normalize import filter_valid_tags, tag_expr

    ev = _events(spark, sf_dir)
    pos, neg = ["purchase", "signup"], ["click", "view"]
    kept = filter_valid_tags(ev, "event_type", pos, neg)
    return (
        kept.withColumn("y", tag_expr("event_type", pos, neg))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").cast("bigint").alias("sum_y"),
        )
        .orderBy("event_type")
    )


ORACLES["invalid_tag_filter"] = """
SELECT event_type, count(*) AS n,
       sum(CASE WHEN event_type IN ('purchase','signup') THEN 1 ELSE 0 END)::BIGINT AS sum_y
FROM events
WHERE event_type IN ('purchase','signup','click','view')
GROUP BY event_type ORDER BY event_type
"""


@query("mean_impute", stage="norm")
def mean_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-value mean imputation (Normalizer.java:602-605 semantics:
    missing/unparseable numeric -> population mean of valid values).
    l_tax = 0 plays the missing token; mean over the non-missing rows."""
    li = _t(spark, sf_dir, "lineitem")
    v = F.nullif(F.col("l_tax"), F.lit(0.0))
    mm = li.agg(
        (F.sum(v.cast("decimal(38,10)")).cast("double") / F.count(v)).alias("mean_tax")
    )
    return li.crossJoin(F.broadcast(mm)).select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.coalesce(v, F.col("mean_tax")), 6).alias("l_tax_imputed"),
    )


ORACLES["mean_impute"] = """
WITH mm AS (
  SELECT sum(cast(nullif(l_tax, 0.0) AS DECIMAL(38,10)))::DOUBLE / count(nullif(l_tax, 0.0)) AS mean_tax
  FROM lineitem
)
SELECT l_orderkey, l_linenumber,
       round(coalesce(nullif(l_tax, 0.0), mean_tax), 6) AS l_tax_imputed
FROM lineitem CROSS JOIN mm
"""


# ---------------------------------------------------------------------------
# Eval completeness: PR AUC; posttrain feature importance; auto-type freq items
# ---------------------------------------------------------------------------


@query("pr_auc", stage="eval")
def pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PR AUC: trapezoid over (recall, precision) points
    (AreaUnderCurve.ofPr semantics) — via the one-pass
    eval_metrics.curve_metrics_df prefix scan."""
    from shifu_spark.operators.eval_metrics import curve_metrics_df

    li = _t(spark, sf_dir, "lineitem")
    return curve_metrics_df(li, "l_extendedprice", F.col("l_returnflag") == "R").select("pr_auc")


ORACLES["pr_auc"] = """
WITH pts AS (
  SELECT l_extendedprice AS score,
         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS pos,
         sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS neg
  -- unrankable (NULL/NaN/±Inf) scores are not eval points
  FROM lineitem WHERE l_extendedprice IS NOT NULL AND isfinite(l_extendedprice) GROUP BY 1
),
cum AS (
  SELECT sum(pos) OVER (ORDER BY score DESC) AS tp,
         sum(neg) OVER (ORDER BY score DESC) AS fp,
         sum(pos) OVER () AS tot_p
  FROM pts
),
pr AS (
  SELECT tp::DOUBLE / (tp + fp) AS precision, tp::DOUBLE / tot_p AS recall FROM cum
),
lagged AS (
  -- recall ties (zero-pos score runs) are pinned by precision DESC,
  -- which equals the score-descending scan order on the Spark side
  SELECT recall, precision,
         lag(recall) OVER (ORDER BY recall, precision DESC) AS prev_r,
         lag(precision) OVER (ORDER BY recall, precision DESC) AS prev_p
  FROM pr
)
SELECT round(sum((recall - prev_r) * (precision + prev_p) / 2.0), 6) AS pr_auc
FROM lagged WHERE prev_r IS NOT NULL
"""


@query("feature_importance", stage="train")
def feature_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature importance (FeatureImportanceMapper/Reducer.java): mean
    |contribution| per column for a fixed linear model, normalized to
    sum 1. One wide agg + tiny driver-free reshape."""
    li = _t(spark, sf_dir, "lineitem")
    aggs = [
        F.sum(F.abs(F.col(c) * w).cast("decimal(38,10)")).cast("double").alias(f"{c}__a")
        for c, w in _SENS_W.items()
    ]
    wide = li.agg(*aggs)
    total = sum((F.col(f"{c}__a") for c in _SENS_W), F.lit(0.0))
    selects = [
        wide.select(
            F.lit(c).alias("column_name"),
            F.round(F.col(f"{c}__a") / total, 8).alias("importance"),
        )
        for c in _SENS_W
    ]
    out = selects[0]
    for s in selects[1:]:
        out = out.unionAll(s)
    return out.orderBy("column_name")


def _fi_oracle() -> str:
    sums = ", ".join(
        f"sum(cast(abs({c} * {w!r}) AS DECIMAL(38,10)))::DOUBLE AS {c}__a" for c, w in _SENS_W.items()
    )
    total = " + ".join(f"{c}__a" for c in _SENS_W)
    parts = [
        f"SELECT '{c}' AS column_name, round({c}__a / ({total}), 8) AS importance FROM wide"
        for c in _SENS_W
    ]
    return f"WITH wide AS (SELECT {sums} FROM lineitem)\n" + "\nUNION ALL\n".join(parts) + "\nORDER BY column_name"


ORACLES["feature_importance"] = _fi_oracle()


@query("freq_items", stage="stats")
def freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-item sets per column (CountAndFrequentItemsWritable /
    auto-type inference): top-3 values by count per column via ONE
    unpivot + one grouped count + per-column rank window."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    unpivoted = li.select(
        F.expr(
            "stack(2, 'l_returnflag', l_returnflag, 'l_linestatus', l_linestatus) AS (column_name, value)"
        )
    )
    counts = unpivoted.groupBy("column_name", "value").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("column_name").orderBy(F.desc("cnt"), F.asc("value"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("column_name", "value", "cnt", "rnk")
        .orderBy("column_name", "rnk")
    )


ORACLES["freq_items"] = """
WITH unpivoted AS (
  SELECT 'l_returnflag' AS column_name, l_returnflag AS value FROM lineitem
  UNION ALL
  SELECT 'l_linestatus', l_linestatus FROM lineitem
),
counts AS (
  SELECT column_name, value, count(*) AS cnt FROM unpivoted GROUP BY 1, 2
),
ranked AS (
  SELECT column_name, value, cnt,
         row_number() OVER (PARTITION BY column_name ORDER BY cnt DESC, value ASC) AS rnk
  FROM counts
)
SELECT column_name, value, cnt, rnk::INT AS rnk FROM ranked WHERE rnk <= 3
ORDER BY column_name, rnk
"""


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (the 100 TB similarity-search path) — SURVEY §7 phase 7
# ---------------------------------------------------------------------------

# deterministic "hyperplanes": indicator vectors of the four 16-dim
# quarters of the 64-dim embedding — dot(vec, h_i) = sum of quarter i,
# trivially portable to the oracle as list_sum(slice)
_LSH_PLANES = [[1.0 if 16 * i <= d < 16 * (i + 1) else 0.0 for d in range(64)] for i in range(4)]


@query("embedding_lsh_topk", stage="similarity")
def embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-3: candidates share the 4-bit
    sign-pattern bucket, exact cosine re-rank inside the bucket
    (operators/similarity.lsh_topk). Shuffle = N rows once through the
    bucket join; candidate set ~N/16 per query."""
    from shifu_spark.operators.similarity import lsh_topk

    emb = _emb(spark, sf_dir)
    return lsh_topk(emb, F.col("vec_id") < 10, _LSH_PLANES, k=3)


ORACLES["embedding_lsh_topk"] = """
WITH b AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         (CASE WHEN list_sum((embedding::DOUBLE[])[1:16])  >= 0 THEN 1 ELSE 0 END
        + CASE WHEN list_sum((embedding::DOUBLE[])[17:32]) >= 0 THEN 2 ELSE 0 END
        + CASE WHEN list_sum((embedding::DOUBLE[])[33:48]) >= 0 THEN 4 ELSE 0 END
        + CASE WHEN list_sum((embedding::DOUBLE[])[49:64]) >= 0 THEN 8 ELSE 0 END) AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.qv, c.v) /
         (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v))) AS cosine
  FROM b c JOIN q USING (bucket)
  WHERE c.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank::INT AS rank, neighbor_id, round(cosine, 6) AS cosine
FROM ranked WHERE rank <= 3 ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# Eval: weighted confusion matrix + multi-class confusion (ConfusionMatrix.java)
# ---------------------------------------------------------------------------


@query("weighted_confusion", stage="eval")
def weighted_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted cumulative confusion matrix (ConfusionMatrix.java weighted
    counters; weight clamp :361-370). Weight = l_quantity; one row per
    distinct score with running weighted TP/FP."""
    from shifu_spark.operators.eval_metrics import confusion_points_df

    li = _t(spark, sf_dir, "lineitem")
    caches: list[DataFrame] = []
    pts = confusion_points_df(
        li, "l_extendedprice", F.col("l_returnflag") == "R",
        weight_col="l_quantity", cache_out=caches,
    )
    out = pts.select(
        "score", "tp", "fp",
        F.round("wtp", 4).alias("wtp"),
        F.round("wfp", 4).alias("wfp"),
    )
    return _materialize_release(out, caches)


ORACLES["weighted_confusion"] = """
WITH pts AS (
  SELECT l_extendedprice AS score,
         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS pos,
         sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS neg,
         sum(CASE WHEN l_returnflag = 'R' THEN (CASE WHEN l_quantity IS NULL OR NOT isfinite(l_quantity) OR l_quantity < 0 THEN 1.0 ELSE l_quantity END) ELSE 0 END) AS wpos,
         sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE (CASE WHEN l_quantity IS NULL OR NOT isfinite(l_quantity) OR l_quantity < 0 THEN 1.0 ELSE l_quantity END) END) AS wneg
  -- unrankable (NULL/NaN/±Inf) scores are not eval points
  FROM lineitem WHERE l_extendedprice IS NOT NULL AND isfinite(l_extendedprice) GROUP BY 1
)
SELECT score,
       (sum(pos) OVER (ORDER BY score DESC))::BIGINT AS tp,
       (sum(neg) OVER (ORDER BY score DESC))::BIGINT AS fp,
       round(sum(wpos) OVER (ORDER BY score DESC), 4) AS wtp,
       round(sum(wneg) OVER (ORDER BY score DESC), 4) AS wfp
FROM pts
"""


@query("multiclass_confusion", stage="eval")
def multiclass_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-class confusion matrix
    (ConfusionMatrix.computeConfusionMatixForMultipleClassification:625):
    (actual, predicted) counts; predicted = quantity-tercile rule mapped
    onto the 3-class tag set."""
    li = _t(spark, sf_dir, "lineitem")
    pred = (
        F.when(F.col("l_quantity") < 17, "A")
        .when(F.col("l_quantity") < 34, "N")
        .otherwise("R")
    )
    return (
        li.select(F.col("l_returnflag").alias("actual"), pred.alias("predicted"))
        .groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("actual", "predicted")
    )


ORACLES["multiclass_confusion"] = """
SELECT l_returnflag AS actual,
       CASE WHEN l_quantity < 17 THEN 'A' WHEN l_quantity < 34 THEN 'N' ELSE 'R' END AS predicted,
       count(*) AS cnt
FROM lineitem
GROUP BY 1, 2 ORDER BY actual, predicted
"""


def _train_sentinel_df(spark, sf_dir):
    """Shared fixture for the training sentinels: features + a PLANTED
    learnable target (label = l_quantity > 25, linearly separable in
    x1) so the fit queries can assert a held-out AUC floor — against
    the old unlearnable returnflag label every AUC sat at ~0.5 and the
    rows proved nothing about the trainer (VERDICT r6 wrong #3)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        (F.col("l_quantity") / 50.0).alias("x1"),
        (F.col("l_discount") * 10.0).alias("x2"),
        (F.col("l_quantity") > 25).cast("double").alias("label"),
    )


def _fit_invariant_rows(spark, losses, auc, auc_floor):
    """(epoch, loss) rows + held-out AUC invariants, ASSERTED in-query:
    the driver's rows-only record becomes semi-verifiable — a trainer
    that stops learning or regresses now errors the gate row instead of
    silently passing a row count (VERDICT r6 next-round #5)."""
    if not losses:
        raise ValueError("training sentinel: no epochs recorded")
    if losses[-1] >= losses[0]:
        raise ValueError(
            f"training sentinel: loss did not decrease ({losses[0]} -> {losses[-1]})"
        )
    if auc < auc_floor:
        raise ValueError(f"training sentinel: held-out AUC {auc} below floor {auc_floor}")
    first = losses[0]
    return local_frame(
        spark,
        [
            (
                e + 1,
                float(round(l, 6)),
                bool(l < first or e == 0),
                float(round(auc, 4)),
                True,
            )
            for e, l in enumerate(losses)
        ],
        "epoch int, train_loss double, below_first_epoch boolean, "
        "holdout_auc double, auc_floor_met boolean",
    )


@query("sgd_lr_train", stage="train")
def sgd_lr_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed SGD LR (core/dtrain/lr BSP, ml/sgd.py): each epoch's
    worker gradients and fan-in are one Catalyst aggregate over the
    cached frame, so the forward pass runs in the JVM with no Python
    worker; the driver applies the optimizer. Rows-only check: training
    is iterative, not SQL-expressible — but the row is semi-verifiable:
    per-epoch losses must decrease overall and the held-out AUC of the
    fitted model must clear 0.9 on the planted separable target, both
    ASSERTED in-query (a broken trainer errors the gate row)."""
    from shifu_spark.ml.sgd import lr_score_expr, train_lr_sgd
    from shifu_spark.operators.eval_metrics import curve_metrics_df

    data = _train_sentinel_df(spark, sf_dir)
    train, valid = data.randomSplit([0.8, 0.2], seed=42)
    res = train_lr_sgd(train, ["x1", "x2"], optimizer="ADAM", learning_rate=0.3, max_epochs=5)
    auc = curve_metrics_df(
        valid.withColumn("p", lr_score_expr(["x1", "x2"], res.weights)),
        "p",
        F.col("label") == 1.0,
    ).collect()[0]["auc"]
    return _fit_invariant_rows(spark, res.train_losses, auc, 0.9)


@query("nn_train", stage="train")
def nn_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed MLP with Shifu's activation set (core/dtrain/nn BSP as
    mapInPandas backprop partials + driver optimizer, ml/nn.py —
    ActivationPTANH/Swish/LeakyReLU parity that MLlib's MLP lacks).
    Rows-only but semi-verifiable: per-epoch loss decrease + held-out
    AUC >= 0.9 on the planted separable target, asserted in-query."""
    from shifu_spark.ml.nn import nn_score_udf, train_nn
    from shifu_spark.operators.eval_metrics import curve_metrics_df

    data = _train_sentinel_df(spark, sf_dir)
    train, valid = data.randomSplit([0.8, 0.2], seed=42)
    res = train_nn(
        train, ["x1", "x2"], hidden_layers=[4], hidden_activation="SWISH",
        optimizer="ADAM", learning_rate=0.3, max_epochs=3, seed=42,
    )
    auc = curve_metrics_df(
        valid.withColumn("p", nn_score_udf(["x1", "x2"], res)),
        "p",
        F.col("label") == 1.0,
    ).collect()[0]["auc"]
    return _fit_invariant_rows(spark, res.train_losses, auc, 0.9)


@query("ga_varselect", stage="train")
def ga_varselect_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GA wrapper variable selection (core/dvarsel CandidateGenerator
    mechanics; ml/ga_varselect.py). Two Gram-matrix passes, then the GA
    runs driver-side — fitness is closed-form linear-probe validation
    MSE. Rows-only: iterative + RNG-driven (seeded). The target is a
    known function of (l_quantity, l_discount); the GA must pick them
    out of 5 candidate columns."""
    from shifu_spark.ml.ga_varselect import ga_varselect

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x_qty"),
        F.col("l_discount").alias("x_disc"),
        F.col("l_tax").alias("x_tax"),
        (F.col("l_partkey") % 97).cast("double").alias("x_part"),
        (F.col("l_suppkey") % 89).cast("double").alias("x_supp"),
        (F.col("l_quantity") * (1 - F.col("l_discount"))).alias("y"),
    )
    train, valid = li.randomSplit([0.7, 0.3], seed=42)
    cols = ["x_qty", "x_disc", "x_tax", "x_part", "x_supp"]
    res = ga_varselect(
        train, valid, cols, label_col="y",
        expect_variable_cnt=2, population_live_size=8,
        population_multiply_cnt=4, seed=42,
    )
    # semi-verifiable (VERDICT r6 #5): the target is a known function of
    # exactly (x_qty, x_disc) — a GA that returns anything else is broken
    if set(res.best_features) != {"x_qty", "x_disc"}:
        raise ValueError(f"ga sentinel: picked {sorted(res.best_features)}, "
                         "expected ['x_disc', 'x_qty']")
    return local_frame(
        spark,
        [
            (f, float(round(res.best_error, 6)), True)
            for f in sorted(res.best_features)
        ],
        "feature string, best_valid_mse double, planted_features_found boolean",
    )


# ---------------------------------------------------------------------------
# Dynamic binning (§2.5 — StatsDynamicBinning.pig two-pass shape)
# ---------------------------------------------------------------------------


@query("dynamic_binning", stage="stats")
def dynamic_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic binning two-pass: 100 fine equal-interval small bins
    (GenSmallBinningInfoUDF) merged to 10 equal-population target bins by
    cumulative count (DynamicBinningUDF). The merge runs on the ≤100-row
    small-bin table — window math, no second data pass."""
    from pyspark.sql import Window

    from shifu_spark.operators.binning import small_bin_counts

    li = _t(spark, sf_dir, "lineitem")
    sb = small_bin_counts(li, "l_extendedprice", 100, pos_expr=F.col("l_returnflag") == "R")
    # bounded: unpartitioned windows over the 100 small-bin rows (catalog-scale)
    word = Window.orderBy("small_bin").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t = sb.withColumn("cum_before", F.coalesce(F.sum("cnt").over(word), F.lit(0))).withColumn(
        "total", F.sum("cnt").over(wall)
    )
    tgt = F.least(F.floor(F.col("cum_before") / (F.col("total") / 10)), F.lit(9))
    return (
        t.withColumn("bin", tgt)
        .groupBy("bin")
        .agg(
            F.round(F.min("lo"), 6).alias("lo"),
            F.sum("cnt").alias("cnt"),
            F.sum("pos").alias("pos"),
            F.sum("neg").alias("neg"),
        )
        .orderBy("bin")
    )


ORACLES["dynamic_binning"] = """
WITH li AS (  -- non-finite values are MISSING: never inside value bins
  SELECT * FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND isfinite(l_extendedprice)),
mm AS (SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx FROM li),
small AS (  -- width 0 (all-equal column) => single small bin 0 at lo=mn
  SELECT CASE WHEN mx = mn THEN 0
              ELSE least(floor((l_extendedprice - mn) / ((mx - mn) / 100)), 99) END AS small_bin,
         mn + (CASE WHEN mx = mn THEN 0
               ELSE least(floor((l_extendedprice - mn) / ((mx - mn) / 100)), 99) END) * ((mx - mn) / 100) AS lo,
         count(*) AS cnt,
         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS pos,
         sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS neg
  FROM li CROSS JOIN mm GROUP BY 1, 2
),
cum AS (
  SELECT *, coalesce(sum(cnt) OVER (ORDER BY small_bin ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
         sum(cnt) OVER () AS total
  FROM small
)
SELECT least(floor(cum_before / (total / 10)), 9)::BIGINT AS bin,
       round(min(lo), 6) AS lo, sum(cnt)::BIGINT AS cnt, sum(pos)::BIGINT AS pos, sum(neg)::BIGINT AS neg
FROM cum GROUP BY 1 ORDER BY bin
"""


@query("embedding_ivf_topk", stage="similarity")
def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe-1 ANN (operators/similarity.ivf_topk): seed-vector
    centroids (vec_id 0-7), every vector assigned to its max-cosine
    cell, queries search only their own cell. The k-means-trained
    quantizer (train_ivf_centroids) is the production variant; seed
    centroids keep the oracle deterministic."""
    from shifu_spark.operators.similarity import ivf_topk

    emb = _emb(spark, sf_dir)
    return ivf_topk(emb, F.col("vec_id").between(10, 19), F.col("vec_id") < 8, k=3)


@query("embedding_ivf_multiprobe", stage="similarity")
def embedding_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF ANN (operators/similarity.ivf_topk_multiprobe):
    data vectors in their 1 nearest cell, queries probe their top-2 cells
    — the IVF-Flat recall knob. Seed-vector centroids (vec_id 0-7) keep
    the oracle deterministic."""
    from shifu_spark.operators.similarity import ivf_topk_multiprobe

    emb = _emb(spark, sf_dir)
    return ivf_topk_multiprobe(
        emb, F.col("vec_id").between(10, 19), F.col("vec_id") < 8, k=3, probes=2
    )


ORACLES["embedding_ivf_multiprobe"] = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS vnorm
  FROM embeddings
),
cents AS (SELECT vec_id AS cid, v AS cvec, vnorm AS cnorm FROM e WHERE vec_id < 8),
scored AS (
  SELECT e.vec_id, e.v, e.vnorm, c.cid,
         list_dot_product(e.v, c.cvec) / (e.vnorm * c.cnorm) AS ccos
  FROM e CROSS JOIN cents c
),
assigned AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn
  FROM scored
),
cells AS (SELECT vec_id, v, vnorm, cid AS cell FROM assigned WHERE rn = 1),
q AS (
  SELECT vec_id AS query_id, v AS qv, vnorm AS qnorm, cid AS cell
  FROM assigned WHERE rn <= 2 AND vec_id BETWEEN 10 AND 19
),
pairs AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.qv, c.v) / (q.qnorm * c.vnorm) AS cosine
  FROM cells c JOIN q USING (cell)
  WHERE c.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM pairs
)
SELECT query_id, rank::INT AS rank, neighbor_id, round(cosine, 6) AS cosine
FROM ranked WHERE rank <= 3 ORDER BY query_id, rank
"""


def _pq_dist_sql(off: int, centroid: list[float]) -> str:
    """Explicit left-associated squared-distance sum — the identical fold
    to similarity._pq_sq_dist's JVM expression."""
    terms = [
        f"(embedding[{off + i + 1}]::DOUBLE - ({cv!r})) * (embedding[{off + i + 1}]::DOUBLE - ({cv!r}))"
        for i, cv in enumerate(centroid)
    ]
    return " + ".join(terms)


def _pq_codes_cte() -> str:
    """CTE computing per-subspace PQ codes — the DuckDB mirror of
    similarity.pq_encode_df over the pinned codebooks."""
    from shifu_spark.operators.similarity import pq_codebooks_pinned

    books = pq_codebooks_pinned()
    dist_cols, code_cols = [], []
    for s, cents in enumerate(books):
        off = s * len(cents[0])
        for c, cent in enumerate(cents):
            dist_cols.append(f"{_pq_dist_sql(off, cent)} AS d{s}{c}")
        k = len(cents)
        whens = []
        for c in range(k - 1):
            cond = " AND ".join(f"d{s}{c} <= d{s}{o}" for o in range(c + 1, k))
            whens.append(f"WHEN {cond} THEN {c}")
        code_cols.append(f"CASE {' '.join(whens)} ELSE {k - 1} END AS code{s}")
    return f"""
d AS (
  SELECT vec_id, {', '.join(dist_cols)}
  FROM embeddings
),
codes AS (
  SELECT vec_id, {', '.join(code_cols)}
  FROM d
)"""


@query("pq_encode", stage="similarity")
def pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode (Jégou et al. 2011) — the
    compressed-vector half of the production ANN stack (IVF routes, PQ
    compresses: 64 floats -> 4 codebook codes). Pure JVM expressions
    (codebook = plan literals, the expression form of a broadcast),
    narrow map over the scan, zero shuffle. Every distance is an
    explicit left-associated fold so the oracle's arithmetic is
    bitwise identical; argmin ties break to the lowest index on both
    engines."""
    from shifu_spark.operators.similarity import pq_codebooks_pinned, pq_encode_df

    emb = _emb(spark, sf_dir)
    return pq_encode_df(emb, pq_codebooks_pinned()).orderBy("vec_id")


ORACLES["pq_encode"] = f"""
WITH {_pq_codes_cte()}
SELECT vec_id, code0::INT AS code0, code1::INT AS code1,
       code2::INT AS code2, code3::INT AS code3
FROM codes ORDER BY vec_id
"""


@query("pq_adc_topk", stage="similarity")
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: distance(query, vec) ≈
    Σ_s lut[s][code_s] — four LUT lookups per row instead of a 64-dim
    dot product. LUT values are driver-computed float64 literals
    embedded identically on both engines, so the scan, ordering and
    hash match bitwise. At 100 TB the codes are a stored 4-byte column
    and this is the classic IVF-ADC second stage."""
    from shifu_spark.operators.similarity import (
        pq_adc_topk_df,
        pq_codebooks_pinned,
        pq_query_pinned,
    )

    emb = _emb(spark, sf_dir)
    return pq_adc_topk_df(emb, pq_query_pinned(), pq_codebooks_pinned(), k=30)


def _pq_adc_oracle() -> str:
    from shifu_spark.operators.similarity import (
        pq_adc_lut,
        pq_codebooks_pinned,
        pq_query_pinned,
    )

    lut = pq_adc_lut(pq_query_pinned(), pq_codebooks_pinned())
    adc_terms = []
    # ::DOUBLE on every LUT literal: bare decimal literals parse as
    # DECIMAL in DuckDB, and an all-literal CASE chain then sums in
    # exact decimal arithmetic — a different type AND different
    # rounding than the engine's double sum
    for s, row in enumerate(lut):
        whens = " ".join(f"WHEN {c} THEN ({v!r})::DOUBLE" for c, v in enumerate(row[:-1]))
        adc_terms.append(f"CASE code{s} {whens} ELSE ({row[-1]!r})::DOUBLE END")
    adc = " + ".join(adc_terms)
    return f"""
WITH {_pq_codes_cte()}
SELECT vec_id, code0::INT AS code0, code1::INT AS code1,
       code2::INT AS code2, code3::INT AS code3,
       round({adc}, 6) AS adc
FROM codes ORDER BY {adc}, vec_id LIMIT 30
"""


ORACLES["pq_adc_topk"] = _pq_adc_oracle()


@query("kmeans_step_centroids", stage="similarity")
def kmeans_step_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of the IVF quantizer trainer
    (operators/similarity.kmeans_step): assign all vectors to their
    max-cosine seed centroid (vec_id 0-7), recompute per-cell
    element-wise means. DECIMAL(38,10) dim-sums keep the mean
    partition-order independent; first 8 dims returned to keep the
    result compact."""
    from shifu_spark.operators.similarity import kmeans_step

    emb = _emb(spark, sf_dir)
    cents = [
        (int(r[0]), [float(x) for x in r[1]])
        for r in emb.filter(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    ]
    return kmeans_step(emb, cents).filter(F.col("pos") < 8)


ORACLES["kmeans_step_centroids"] = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS vnorm
  FROM embeddings
),
cents AS (SELECT vec_id AS cid, v AS cvec, vnorm AS cnorm FROM e WHERE vec_id < 8),
scored AS (
  SELECT e.vec_id, e.v, c.cid,
         list_dot_product(e.v, c.cvec) / (e.vnorm * c.cnorm) AS ccos
  FROM e CROSS JOIN cents c
),
cells AS (
  SELECT vec_id, v, cid AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn
    FROM scored
  ) WHERE rn = 1
),
dims AS (
  SELECT cell, i.idx - 1 AS pos, v[i.idx] AS val
  FROM cells, (SELECT unnest(range(1, 9)) AS idx) i
)
SELECT cell, pos::INT AS pos,
       round((sum(val::DECIMAL(38,10))::DOUBLE) / count(*), 6) AS centroid
FROM dims
GROUP BY cell, pos ORDER BY cell, pos
"""


ORACLES["embedding_ivf_topk"] = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS vnorm
  FROM embeddings
),
cents AS (SELECT vec_id AS cid, v AS cvec, vnorm AS cnorm FROM e WHERE vec_id < 8),
scored AS (
  SELECT e.vec_id, e.v, e.vnorm, c.cid,
         list_dot_product(e.v, c.cvec) / (e.vnorm * c.cnorm) AS ccos
  FROM e CROSS JOIN cents c
),
cells AS (
  SELECT vec_id, v, vnorm, cid AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn
    FROM scored
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, v AS qv, vnorm AS qnorm, cell
  FROM cells WHERE vec_id BETWEEN 10 AND 19
),
pairs AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.qv, c.v) / (q.qnorm * c.vnorm) AS cosine
  FROM cells c JOIN q USING (cell)
  WHERE c.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM pairs
)
SELECT query_id, rank::INT AS rank, neighbor_id, round(cosine, 6) AS cosine
FROM ranked WHERE rank <= 3 ORDER BY query_id, rank
"""


@query("confusion_matrix_scalable", stage="eval")
def confusion_matrix_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative confusion matrix in the at-scale prefix-sum form
    (eval_metrics.confusion_points_df with one range per core):
    range-bucketed within-range windows + broadcast per-range offsets.
    At the gate's data sizes the derived range count is 1, so this
    query keeps the multi-range plan under oracle parity. Same oracle
    as confusion_matrix_points (outputs are identical by construction)."""
    from shifu_spark.operators.eval_metrics import confusion_points_df

    li = _t(spark, sf_dir, "lineitem")
    caches: list[DataFrame] = []
    pts = confusion_points_df(
        li, "l_extendedprice", F.col("l_returnflag") == "R",
        num_ranges=spark.sparkContext.defaultParallelism, cache_out=caches,
    )
    out = pts.select(
        "score", "tp", "fp", "fn", "tn",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("fpr", 6).alias("fpr"),
    )
    return _materialize_release(out, caches)


ORACLES["confusion_matrix_scalable"] = ORACLES["confusion_matrix_points"]


@query("events_props_json", stage="query")
def events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload extraction: parse the JSON props column
    JVM-side (get_json_object — no Python, pushdown-friendly) and
    aggregate by event type. The training-data-pipeline op for
    metadata-bearing event/row payloads."""
    ev = _events(spark, sf_dir)
    # get_json_object NULLs malformed payloads; try_cast NULLs a
    # non-numeric k — one bad row must not kill the rollup under ANSI
    k = F.get_json_object("props", "$.k").try_cast("long")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


ORACLES["events_props_json"] = """
-- json_valid guard: Spark's get_json_object returns NULL on malformed
-- payloads while DuckDB's json_extract_string is a hard parse error —
-- one bad row must not kill the rollup (try_cast for non-numeric k)
WITH e AS (
  SELECT event_type,
         CASE WHEN props IS NOT NULL AND json_valid(props)
              THEN try_cast(json_extract_string(props, '$.k') AS BIGINT) END AS k
  FROM events)
SELECT event_type, count(*) AS n,
       sum(k)::BIGINT AS sum_k,
       min(k) AS min_k,
       max(k) AS max_k
FROM e GROUP BY event_type ORDER BY event_type
"""


@query("weighted_roc_auc", stage="eval")
def weighted_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted ROC AUC (PerformanceResult weighted curves,
    AreaUnderCurve weighted trapezoid): trapezoid over weighted
    (FPR, TPR) per distinct score; weight = l_quantity with the
    reference's clamp (null/negative -> 1.0). The Spark side is the
    DECIMAL-summed tie-corrected trapezoid of curve_metrics_df; the
    oracle integrates the lagged (FPR, TPR) curve in doubles, so the
    gate cross-checks two formulas."""
    from shifu_spark.operators.eval_metrics import curve_metrics_df

    li = _t(spark, sf_dir, "lineitem")
    out = curve_metrics_df(
        li, "l_extendedprice", F.col("l_returnflag") == "R", weight_col="l_quantity"
    )
    return out.select(F.col("auc").alias("weighted_auc"))


ORACLES["weighted_roc_auc"] = """
WITH pts AS (
  SELECT l_extendedprice AS score,
         sum(CASE WHEN l_returnflag = 'R' THEN (CASE WHEN l_quantity IS NULL OR NOT isfinite(l_quantity) OR l_quantity < 0 THEN 1.0 ELSE l_quantity END) ELSE 0 END) AS wpos,
         sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE (CASE WHEN l_quantity IS NULL OR NOT isfinite(l_quantity) OR l_quantity < 0 THEN 1.0 ELSE l_quantity END) END) AS wneg
  -- unrankable (NULL/NaN/±Inf) scores are not eval points
  FROM lineitem WHERE l_extendedprice IS NOT NULL AND isfinite(l_extendedprice) GROUP BY 1
),
cum AS (
  SELECT sum(wpos) OVER (ORDER BY score DESC) AS wtp,
         sum(wneg) OVER (ORDER BY score DESC) AS wfp
  FROM pts
),
curve AS (
  SELECT wtp / (max(wtp) OVER ()) AS tpr, wfp / (max(wfp) OVER ()) AS fpr_w FROM cum
),
lagged AS (
  SELECT fpr_w, tpr,
         lag(fpr_w) OVER (ORDER BY fpr_w, tpr) AS prev_f,
         lag(tpr) OVER (ORDER BY fpr_w, tpr) AS prev_t
  FROM curve
)
SELECT round(sum(CASE WHEN prev_f IS NOT NULL
                      THEN (fpr_w - prev_f) * (tpr + prev_t) / 2.0
                      ELSE fpr_w * tpr / 2.0 END), 6) AS weighted_auc
FROM lagged
"""


@query("dedup_groups", stage="dedup")
def dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUP resolution: connected components over the
    MinHash+LSH banded pair generator (the 100 TB-shaped composition —
    shuffle = docs×bands, NOT the quadratic shared-shingle self-join),
    min doc_id as group representative (operators/dedup.dedup_groups_df —
    iterative label propagation). The oracle computes the exact-Jaccard
    pair universe; LSH candidates are exact-verified at the same
    threshold, and recall is 1.0 on this corpus (asserted in
    tests/test_operators.py::TestDedupGroups::test_lsh_pairs_subset_of_exact),
    so the group structure is identical."""
    from shifu_spark.operators.dedup import dedup_groups_df, minhash_lsh_pairs_df

    docs = _docs(spark, sf_dir)
    caches: list[DataFrame] = []
    pairs = minhash_lsh_pairs_df(docs, 3, threshold=0.5, cache_out=caches).select(
        "doc_a", "doc_b"
    )
    try:
        # label propagation runs jobs eagerly — release caches on failure too
        out = dedup_groups_df(pairs).orderBy("doc_id")
    except BaseException:
        for c in caches:
            c.unpersist()
        raise
    return _materialize_release(out, caches)


ORACLES["dedup_groups"] = """
WITH RECURSIVE sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                 i -> array_to_string(toks[i:i+2], ' ')))) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
),
cnt AS (SELECT doc_id, count(*) ns FROM sh GROUP BY 1),
raw_pairs AS (
  SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b
  FROM raw_pairs JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
  WHERE inter::DOUBLE / (ca.ns + cb.ns - inter) >= 0.5
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(src, lbl) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.src
)
SELECT src AS doc_id, min(lbl) AS group_id FROM reach GROUP BY src ORDER BY doc_id
"""


@query("salted_group_counts", stage="stats")
def salted_group_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated aggregation (StatsSpdtI.pig salted two-level
    GROUP BY as operators/stats.salted_agg): lineitem has only 3 return
    flags — salting spreads each hot key over 16 partial groups before
    the 3-row merge. Result identical to the direct groupBy (oracle)."""
    from shifu_spark.operators.stats import salted_agg

    li = _t(spark, sf_dir, "lineitem")
    out = salted_agg(
        li,
        ["l_returnflag"],
        {"n": ("count", None), "qty_min": ("min", "l_quantity"), "qty_max": ("max", "l_quantity")},
        salt=16,
        salt_col="l_orderkey",
    )
    return out.orderBy("l_returnflag")


ORACLES["salted_group_counts"] = """
SELECT l_returnflag, count(*) AS n, min(l_quantity) AS qty_min, max(l_quantity) AS qty_max
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def _simhash_oracle() -> str:
    """DuckDB mirror of simhash_df + chunk-join pairs: hex→int via strpos
    digit decode (same value as Spark's conv(md5[1:8],16,10)), 32 weighted
    bit votes, 4×8-bit pigeonhole chunks, hamming = bit_count(xor)."""
    hexdec = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(token),{i + 1},1))-1)*{16 ** (7 - i)}"
        for i in range(8)
    )
    votes = ",\n    ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN w ELSE -w END) AS b{j}" for j in range(32)
    )
    simbits = " + ".join(f"CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(32))
    chunks = ", ".join(f"(simhash >> {i * 8}) & 255 AS c{i}" for i in range(4))
    chunk_eq = " OR ".join(f"a.c{i} = b.c{i}" for i in range(4))
    return f"""
WITH tok AS (
  SELECT doc_id, t AS token, count(*) AS w
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
  WHERE t <> '' GROUP BY 1, 2
),
hashed AS (
  SELECT doc_id, w, ({hexdec})::BIGINT AS h FROM tok
),
votes AS (
  SELECT doc_id,
    {votes}
  FROM hashed GROUP BY doc_id
),
sim AS (SELECT doc_id, ({simbits})::BIGINT AS simhash FROM votes),
chunked AS (SELECT doc_id, simhash, {chunks} FROM sim),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS ha, b.simhash AS hb
  FROM chunked a JOIN chunked b
    ON a.doc_id < b.doc_id AND ({chunk_eq})
)
SELECT doc_a, doc_b, bit_count(xor(ha, hb))::INT AS hamming
FROM pairs WHERE bit_count(xor(ha, hb)) <= 3
ORDER BY doc_a, doc_b
"""


ORACLES["simhash_neardup_pairs"] = _simhash_oracle()


# ---------------------------------------------------------------------------
# Multimodal REAL decode round-trips (SURVEY §2 multimodal lane)
#
# Payloads are synthesized from arithmetic on doc_id (so the oracle can
# recompute every feature in closed form), encoded into REAL containers
# (RIFF/WAVE via stdlib `wave`; binary P6 PPM; PNG; y4m; baseline JFIF
# JPEG), then decoded by the real kernels in operators/multimodal.py. A
# wrong header offset, endianness, or channel interleave in the decoder
# breaks the driver hash — this is decode *coverage*, not plumbing-only.
# Only compressed audio/video (mp3/h264) stay declared stubs.
#
# Determinism: every feature is an exact integer or ONE IEEE op on exact
# integers (sqrt(sumsq/n), sum/npx) — bitwise identical in numpy/DuckDB.
# ---------------------------------------------------------------------------


def _spread_doc_ids(docs: DataFrame) -> DataFrame:
    """doc_id frame spread across the session's cores — shared by every
    media synth helper: the documents table is a single parquet file at
    test scale, and one partition would serialize the whole
    encode+decode codec pipeline (measured: image_jpeg_features
    8.5s -> ~1.5s at sf0.1)."""
    return _spread_doc_ids_cols(docs, ["doc_id"])


def _synth_wav_payloads(docs: DataFrame) -> DataFrame:
    """payload(doc d) = 16-bit PCM mono WAV @8kHz, n=160+d%97 samples,
    sample[i] = ((d*31 + i*17) % 2003) - 1001."""
    from shifu_spark.operators.multimodal import encode_wav_pcm16

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                n = 160 + int(d) % 97
                i = np.arange(n, dtype=np.int64)
                v = (int(d) * 31 + i * 17) % 2003 - 1001
                payloads.append(encode_wav_pcm16(v))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return _spread_doc_ids(docs).mapInPandas(gen, "doc_id long, payload binary")


@query(
    "audio_wav_features",
    """
WITH d AS (SELECT doc_id, 160 + doc_id % 97 AS n FROM documents),
idx AS (SELECT doc_id, unnest(range(0, n)) AS i FROM d),
s AS (SELECT doc_id, i, ((doc_id*31 + i*17) % 2003) - 1001 AS v FROM idx),
sl AS (SELECT doc_id, v, lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv FROM s)
SELECT doc_id,
  'wav' AS codec,
  CAST(8000 AS INT) AS sample_rate,
  CAST(1 AS INT) AS n_channels,
  CAST(count(*) AS BIGINT) AS n_samples,
  CAST(count(*) * 1000 // 8000 AS BIGINT) AS duration_ms,
  CAST(max(abs(v)) AS INT) AS peak,
  sqrt(CAST(sum(v*v) AS DOUBLE) / count(*)) AS rms,
  CAST(count(*) FILTER (WHERE pv * v < 0) AS BIGINT) AS zero_crossings
FROM sl GROUP BY doc_id ORDER BY doc_id
""",
    stage="multimodal",
)
def audio_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize→encode(RIFF)→decode(stdlib wave)→features; the oracle
    recomputes features straight from the sample arithmetic, so parity
    proves the container round-trip (ref: multimodal lane is new surface
    beyond Shifu — BASELINE.json training-data ops)."""
    from shifu_spark.operators.multimodal import extract_audio_features

    docs = _docs(spark, sf_dir)
    return extract_audio_features(_synth_wav_payloads(docs)).orderBy("doc_id")


@query(
    "audio_corrupt_skip",
    """
WITH d AS (SELECT doc_id, 160 + doc_id % 97 AS n FROM documents
           WHERE doc_id % 7 NOT IN (0, 3, 5)),
idx AS (SELECT doc_id, unnest(range(0, n)) AS i FROM d),
s AS (SELECT doc_id, i, ((doc_id*31 + i*17) % 2003) - 1001 AS v FROM idx),
sl AS (SELECT doc_id, v, lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv FROM s)
SELECT doc_id,
  'wav' AS codec,
  CAST(8000 AS INT) AS sample_rate,
  CAST(1 AS INT) AS n_channels,
  CAST(count(*) AS BIGINT) AS n_samples,
  CAST(count(*) * 1000 // 8000 AS BIGINT) AS duration_ms,
  CAST(max(abs(v)) AS INT) AS peak,
  sqrt(CAST(sum(v*v) AS DOUBLE) / count(*)) AS rms,
  CAST(count(*) FILTER (WHERE pv * v < 0) AS BIGINT) AS zero_crossings
FROM sl GROUP BY doc_id ORDER BY doc_id
""",
    stage="multimodal",
)
def audio_corrupt_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-payload QUARANTINE, driver-proven: the wav synth stream
    with three deterministic damage classes injected as pure column ops
    — doc_id%7==0 truncated mid-header, %7==3 magic smashed, %7==5 NULL
    payload — then decoded with ``on_error='skip'``. The oracle is the
    clean wav oracle over the UNDAMAGED population only, so the hash
    proves BOTH sides of the policy: every corrupt row quarantined,
    every healthy row's features bit-identical to the clean path. At
    100 TB a corrupt blob is a certainty; this is the one-bad-member-
    must-not-kill-the-job contract (dirty-binaries audit, round 10).

    rms stays round-6 like audio_wav_features (same extractor)."""
    from shifu_spark.operators.multimodal import extract_audio_features

    docs = _docs(spark, sf_dir)
    m = F.col("doc_id") % 7
    damaged = _synth_wav_payloads(docs).withColumn(
        "payload",
        F.when(m == 0, F.expr("substring(payload, 1, 11)"))
        .when(m == 3, F.concat(F.lit(b"XXXX"), F.expr("substring(payload, 5, 2147483647)")))
        .when(m == 5, F.lit(None).cast("binary"))
        .otherwise(F.col("payload")),
    )
    return extract_audio_features(damaged, on_error="skip").orderBy("doc_id")


def _synth_ppm_payloads(docs: DataFrame) -> DataFrame:
    """payload(doc d) = P6 PPM, w=8+d%9, h=6+d%7,
    byte[j] = (d*13 + j*7) % 256 for j in row-major RGB order."""
    from shifu_spark.operators.multimodal import encode_ppm

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                w, h = 8 + int(d) % 9, 6 + int(d) % 7
                j = np.arange(w * h * 3, dtype=np.int64)
                img = ((int(d) * 13 + j * 7) % 256).astype(np.uint8).reshape(h, w, 3)
                payloads.append(encode_ppm(img))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return _spread_doc_ids(docs).mapInPandas(gen, "doc_id long, payload binary")


@query(
    "image_ppm_features",
    """
WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h FROM documents),
b AS (SELECT doc_id, w, h, unnest(range(0, w*h*3)) AS j FROM d),
v AS (SELECT doc_id, w, h, j, (doc_id*13 + j*7) % 256 AS val FROM b)
SELECT doc_id,
  CAST(max(w) AS INT) AS width,
  CAST(max(h) AS INT) AS height,
  CAST(max(w) * max(h) AS BIGINT) AS n_pixels,
  CAST(sum(val) AS BIGINT) AS byte_sum,
  round(CAST(sum(CASE WHEN j % 3 = 0 THEN val END) AS DOUBLE) / (max(w) * max(h)), 6) AS mean_r,
  round(CAST(sum(CASE WHEN j % 3 = 1 THEN val END) AS DOUBLE) / (max(w) * max(h)), 6) AS mean_g,
  round(CAST(sum(CASE WHEN j % 3 = 2 THEN val END) AS DOUBLE) / (max(w) * max(h)), 6) AS mean_b
FROM v GROUP BY doc_id ORDER BY doc_id
""",
    stage="multimodal",
)
def image_ppm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize→encode(P6)→decode(pure numpy)→per-channel stats; oracle
    recomputes from the byte arithmetic (decode proven, not faked)."""
    from shifu_spark.operators.multimodal import extract_ppm_features

    docs = _docs(spark, sf_dir)
    return extract_ppm_features(_synth_ppm_payloads(docs)).orderBy("doc_id")


def _synth_png_payloads(docs: DataFrame) -> DataFrame:
    """payload(doc d) = real PNG (Paeth-filtered scanlines), w=7+d%8,
    h=5+d%6, byte[j] = (d*19 + j*11) % 256 in row-major RGB order."""
    from shifu_spark.operators.multimodal import encode_png

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                w, h = 7 + int(d) % 8, 5 + int(d) % 6
                j = np.arange(w * h * 3, dtype=np.int64)
                img = ((int(d) * 19 + j * 11) % 256).astype(np.uint8).reshape(h, w, 3)
                payloads.append(encode_png(img, filter_type=4))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return _spread_doc_ids(docs).mapInPandas(gen, "doc_id long, payload binary")


@query(
    "image_png_features",
    """
WITH d AS (SELECT doc_id, 7 + doc_id % 8 AS w, 5 + doc_id % 6 AS h FROM documents),
b AS (SELECT doc_id, w, h, unnest(range(0, w*h*3)) AS j FROM d),
v AS (SELECT doc_id, w, h, j, (doc_id*19 + j*11) % 256 AS val FROM b)
SELECT doc_id,
  CAST(max(w) AS INT) AS width,
  CAST(max(h) AS INT) AS height,
  CAST(max(w) * max(h) AS BIGINT) AS n_pixels,
  CAST(sum(val) AS BIGINT) AS byte_sum,
  round(CAST(sum(CASE WHEN j % 3 = 0 THEN val END) AS DOUBLE) / (max(w) * max(h)), 6) AS mean_r,
  round(CAST(sum(CASE WHEN j % 3 = 1 THEN val END) AS DOUBLE) / (max(w) * max(h)), 6) AS mean_g,
  round(CAST(sum(CASE WHEN j % 3 = 2 THEN val END) AS DOUBLE) / (max(w) * max(h)), 6) AS mean_b
FROM v GROUP BY doc_id ORDER BY doc_id
""",
    stage="multimodal",
)
def image_png_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize→encode(REAL PNG: zlib DEFLATE + CRC chunks +
    Paeth-filtered scanlines)→decode(full 5-filter reconstruction)→
    per-channel stats. The oracle recomputes the stats straight from the
    pixel arithmetic, so a wrong filter inverse, CRC framing, or stride
    breaks the driver hash — PNG decode is proven end-to-end, upgrading
    it out of the strict-stub set."""
    from shifu_spark.operators.multimodal import extract_png_features

    docs = _docs(spark, sf_dir)
    return extract_png_features(_synth_png_payloads(docs)).orderBy("doc_id")


def _synth_jpeg_payloads(docs: DataFrame) -> DataFrame:
    """payload(doc d) = real baseline JFIF JPEG (quality 100, 4:2:0):
    w=16*(1+d%3), h=16*(1+d%2), grayscale, constant on 16x16 tiles with
    tile (ti, tj) value (d*13 + ti*7 + tj*3) % 240 + 8.

    Piecewise-16x16-constant at quality 100 round-trips EXACTLY through
    the lossy pipeline (constant blocks are DC-only, all-ones quant
    tables, exact grayscale YCbCr inverse — proven in
    tests/test_multimodal_streaming.py), which is what lets the lossy
    codec have a closed-form pixel oracle."""
    from shifu_spark.operators.multimodal import encode_jpeg

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                w, h = 16 * (1 + int(d) % 3), 16 * (1 + int(d) % 2)
                ti = np.arange(h // 16, dtype=np.int64)[:, None]
                tj = np.arange(w // 16, dtype=np.int64)[None, :]
                tiles = (int(d) * 13 + ti * 7 + tj * 3) % 240 + 8
                g = np.repeat(np.repeat(tiles, 16, axis=0), 16, axis=1).astype(np.uint8)
                payloads.append(
                    encode_jpeg(np.stack([g, g, g], axis=2), quality=100, subsampling="4:2:0")
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return _spread_doc_ids(docs).mapInPandas(gen, "doc_id long, payload binary")


@query(
    "image_jpeg_features",
    """
WITH d AS (SELECT doc_id, 16*(1 + doc_id % 3) AS w, 16*(1 + doc_id % 2) AS h FROM documents),
t AS (SELECT doc_id, w, h, unnest(range(0, (w // 16) * (h // 16))) AS t FROM d),
v AS (SELECT doc_id, w, h,
             (doc_id*13 + (t // (w // 16))*7 + (t % (w // 16))*3) % 240 + 8 AS val
      FROM t)
SELECT doc_id,
  CAST(max(w) AS INT) AS width,
  CAST(max(h) AS INT) AS height,
  CAST(max(w) * max(h) AS BIGINT) AS n_pixels,
  CAST(3 * 256 * sum(val) AS BIGINT) AS byte_sum,
  round(CAST(256 * sum(val) AS DOUBLE) / (max(w) * max(h)), 6) AS mean_r,
  round(CAST(256 * sum(val) AS DOUBLE) / (max(w) * max(h)), 6) AS mean_g,
  round(CAST(256 * sum(val) AS DOUBLE) / (max(w) * max(h)), 6) AS mean_b
FROM v GROUP BY doc_id ORDER BY doc_id
""",
    stage="multimodal",
)
def image_jpeg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize→encode(REAL baseline JFIF: DCT + quantization + DC/AC
    Huffman entropy coding + 4:2:0 subsampling + marker framing)→
    decode(generic baseline reader: DQT/DHT/SOF0-driven, Huffman
    bit-serial, batched IDCT)→per-channel stats. The synthesized images
    are 16x16-piecewise-constant at quality 100, where the lossy round
    trip is exact (see _synth_jpeg_payloads), so the oracle recomputes
    the stats from the closed-form pixel values — a wrong DCT scale,
    zigzag order, Huffman table, byte (un)stuffing, subsample average or
    marker offset breaks the driver hash. Closes the last strict-stub in
    the media family (VERDICT r3 missing #2; reference has no media path
    at all)."""
    from shifu_spark.operators.multimodal import extract_jpeg_features

    docs = _docs(spark, sf_dir)
    return extract_jpeg_features(_synth_jpeg_payloads(docs)).orderBy("doc_id")


def _synth_y4m_payloads(docs: DataFrame) -> DataFrame:
    """payload(doc d) = real YUV4MPEG2 C444 stream: 4+d%5 frames of
    (4+d%4)×(6+d%5); pixel (frame f, channel ch, raster p) =
    (d*7 + f*31 + ch*5 + p*3) % 256."""
    from shifu_spark.operators.multimodal import encode_y4m

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                nf, w, h = 4 + int(d) % 5, 6 + int(d) % 5, 4 + int(d) % 4
                f = np.arange(nf)[:, None, None]
                p = np.arange(h * w).reshape(h, w)[None, :, :]
                ch = np.arange(3)[None, None, None, :]
                vals = (int(d) * 7 + f[..., None] * 31 + ch * 5 + p[..., None] * 3) % 256
                payloads.append(encode_y4m(vals.astype(np.uint8)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return _spread_doc_ids(docs).mapInPandas(gen, "doc_id long, payload binary")


@query(
    "video_y4m_features",
    """
WITH d AS (SELECT doc_id, 4 + doc_id % 5 AS nf, 6 + doc_id % 5 AS w, 4 + doc_id % 4 AS h
           FROM documents),
fr AS (SELECT doc_id, nf, w, h, unnest(range(0, nf)) AS f FROM d),
sampled AS (SELECT * FROM fr WHERE f % 2 = 0),
b1 AS (SELECT doc_id, nf, w, h, f, unnest(range(0, w*h)) AS p FROM sampled),
b2 AS (SELECT doc_id, nf, w, h, f, p, unnest(range(0, 3)) AS ch FROM b1),
v AS (SELECT doc_id, nf, w, h, f, p, ch,
             (doc_id*7 + f*31 + ch*5 + p*3) % 256 AS val
      FROM b2)
SELECT doc_id,
  'y4m' AS codec,
  CAST(max(w) AS INT) AS width,
  CAST(max(h) AS INT) AS height,
  CAST(max(nf) AS INT) AS n_frames,
  CAST(count(DISTINCT f) AS INT) AS n_sampled,
  CAST(sum(val) AS BIGINT) AS byte_sum,
  round(CAST(sum(CASE WHEN ch = 0 THEN val END) AS DOUBLE)
        / (count(DISTINCT f) * max(w) * max(h)), 6) AS mean_y
FROM v GROUP BY doc_id ORDER BY doc_id
""",
    stage="multimodal",
)
def video_y4m_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize→encode(REAL y4m C444 video stream)→decode(header tags
    + FRAME-marker plane walk)→frame-sample(every 2nd)→Y-plane stats.
    The oracle recomputes from the pixel arithmetic, so a wrong plane
    stride, frame offset, or sample phase breaks the driver hash —
    video container decode + frame sampling are proven end-to-end
    (per-frame pixel decode of COMPRESSED codecs remains the honest
    jpeg/h264 stub; y4m is the uncompressed interchange container)."""
    from shifu_spark.operators.multimodal import extract_video_features

    docs = _docs(spark, sf_dir)
    return extract_video_features(_synth_y4m_payloads(docs), sample_every=2).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Compressed audio/video (round-4 continuation): G.711 mu-law, IMA ADPCM
# and MJPEG-in-AVI close the "compressed codecs stay stubs" line with
# formats implementable exactly from public specs. Oracle strategy per
# codec: mu-law decode is MEMORYLESS, so the companding round trip has a
# closed integer form the oracle states directly; IMA ADPCM is adaptive,
# so the payload synthesizes the 4-bit CODE stream from doc_id
# arithmetic and the oracle re-runs the full decoder recurrence as a
# DuckDB recursive CTE (an independent second implementation of the
# decoder); MJPEG reuses the proven q=100 16x16-piecewise-constant
# exactness window of the in-repo JPEG codec, so sampled-frame pixel
# stats are closed-form.
# ---------------------------------------------------------------------------


def _synth_mulaw_payloads(docs: DataFrame) -> DataFrame:
    """payload(doc d) = G.711 mu-law WAV (format tag 7) of n=120+d%81
    samples, sample[i] = ((d*37 + i*23) % 60001) - 30000."""
    from shifu_spark.operators.multimodal import encode_wav_mulaw

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                n = 120 + int(d) % 81
                i = np.arange(n, dtype=np.int64)
                x = (int(d) * 37 + i * 23) % 60001 - 30000
                payloads.append(encode_wav_mulaw(x))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return _spread_doc_ids(docs).mapInPandas(gen, "doc_id long, payload binary")


@query(
    "audio_mulaw_features",
    """
WITH d AS (SELECT doc_id, 120 + doc_id % 81 AS n FROM documents),
idx AS (SELECT doc_id, unnest(range(0, n)) AS i FROM d),
s AS (SELECT doc_id, i, ((doc_id*37 + i*23) % 60001) - 30000 AS x FROM idx),
m AS (SELECT doc_id, i, x, least(abs(x), 32635) + 132 AS mag FROM s),
e AS (SELECT doc_id, i, x, mag,
        CASE WHEN mag < 256 THEN 0 WHEN mag < 512 THEN 1 WHEN mag < 1024 THEN 2
             WHEN mag < 2048 THEN 3 WHEN mag < 4096 THEN 4 WHEN mag < 8192 THEN 5
             WHEN mag < 16384 THEN 6 ELSE 7 END AS ex FROM m),
dv AS (SELECT doc_id, i,
        (CASE WHEN x < 0 THEN -1 ELSE 1 END)
        * (((((mag >> (ex+3)) % 16) * 8 + 132) << ex) - 132) AS v
       FROM e),
sl AS (SELECT doc_id, v, lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv FROM dv)
SELECT doc_id,
  'mulaw' AS codec,
  CAST(8000 AS INT) AS sample_rate,
  CAST(1 AS INT) AS n_channels,
  CAST(count(*) AS BIGINT) AS n_samples,
  CAST(count(*) * 1000 // 8000 AS BIGINT) AS duration_ms,
  CAST(max(abs(v)) AS INT) AS peak,
  sqrt(CAST(sum(v*v) AS DOUBLE) / count(*)) AS rms,
  CAST(count(*) FILTER (WHERE pv * v < 0) AS BIGINT) AS zero_crossings
FROM sl GROUP BY doc_id ORDER BY doc_id
""",
    stage="multimodal",
)
def audio_mulaw_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize→encode(REAL G.711 mu-law: integer segment/mantissa
    companding in a hand-rolled RIFF container, format tag 7)→decode
    (generic chunk walk + expand)→features. The oracle states the
    companding round trip in closed integer form — a wrong bias, clip,
    segment threshold, or bitwise-NOT breaks the driver hash. First of
    the COMPRESSED audio codecs (2:1) proven end-to-end (beyond-
    reference multimodal lane; reference has no media path)."""
    from shifu_spark.operators.multimodal import extract_compressed_audio_features

    docs = _docs(spark, sf_dir)
    return extract_compressed_audio_features(_synth_mulaw_payloads(docs)).orderBy("doc_id")


def _synth_adpcm_payloads(docs: DataFrame) -> DataFrame:
    """payload(doc d) = single-block IMA ADPCM WAV (format tag 0x11)
    built from decoder state: pred0 = (d*31)%1001 - 500, idx0 = d%89,
    nibble[i] = (d*11 + i*5) % 16 for i < 64 + 2*(d%17)."""
    from shifu_spark.operators.multimodal import encode_wav_ima_adpcm_state

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                n_nib = 64 + 2 * (d % 17)
                nibs = [(d * 11 + i * 5) % 16 for i in range(n_nib)]
                payloads.append(
                    encode_wav_ima_adpcm_state(d * 31 % 1001 - 500, d % 89, nibs)
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return _spread_doc_ids(docs).mapInPandas(gen, "doc_id long, payload binary")


from shifu_spark.operators.multimodal import _IMA_STEPS as _IMA_STEPS_TBL  # noqa: E402

_IMA_STEP_CASE = (
    "CASE dec.idx "
    + " ".join(f"WHEN {i} THEN {int(v)}" for i, v in enumerate(_IMA_STEPS_TBL))
    + " END"
)

# The oracle is an INDEPENDENT second implementation of the IMA decoder:
# a recursive CTE advances (pred, idx) per nibble with the step table
# inlined as a generated 89-branch CASE — any drift in the quantized
# difference, clamping, or index adaptation of the Python kernel breaks
# the driver hash. Recursion depth = max nibble count (96), levels run
# all docs in lockstep (500 rows/level at sf0.01).
_ADPCM_ORACLE = f"""
WITH RECURSIVE d AS (
  SELECT doc_id,
         64 + 2*(doc_id % 17) AS n,
         (doc_id*31) % 1001 - 500 AS pred0,
         doc_id % 89 AS idx0
  FROM documents),
dec(doc_id, i, pred, idx) AS (
  SELECT doc_id, 0, pred0, idx0 FROM d
  UNION ALL
  SELECT q.doc_id, q.i + 1,
         greatest(-32768, least(32767,
           q.pred + (CASE WHEN q.nib >= 8 THEN -1 ELSE 1 END) * q.diffq)),
         greatest(0, least(88, q.idx +
           CASE WHEN q.nib % 8 < 4 THEN -1 WHEN q.nib % 8 = 4 THEN 2
                WHEN q.nib % 8 = 5 THEN 4 WHEN q.nib % 8 = 6 THEN 6 ELSE 8 END))
  FROM (
    SELECT s.*,
           (s.step // 8) + ((s.nib // 4) % 2) * s.step
           + ((s.nib // 2) % 2) * (s.step // 2) + (s.nib % 2) * (s.step // 4) AS diffq
    FROM (
      SELECT dec.doc_id, dec.i, dec.pred, dec.idx, d.n,
             (dec.doc_id*11 + dec.i*5) % 16 AS nib,
             {_IMA_STEP_CASE} AS step
      FROM dec JOIN d USING (doc_id)
      WHERE dec.i < d.n
    ) s
  ) q
),
sl AS (SELECT doc_id, pred AS v, lag(pred) OVER (PARTITION BY doc_id ORDER BY i) AS pv
       FROM dec)
SELECT doc_id,
  'ima_adpcm' AS codec,
  CAST(8000 AS INT) AS sample_rate,
  CAST(1 AS INT) AS n_channels,
  CAST(count(*) AS BIGINT) AS n_samples,
  CAST(count(*) * 1000 // 8000 AS BIGINT) AS duration_ms,
  CAST(max(abs(v)) AS INT) AS peak,
  sqrt(CAST(sum(v*v) AS DOUBLE) / count(*)) AS rms,
  CAST(count(*) FILTER (WHERE pv * v < 0) AS BIGINT) AS zero_crossings
FROM sl GROUP BY doc_id ORDER BY doc_id
"""


@query("audio_adpcm_features", _ADPCM_ORACLE, stage="multimodal")
def audio_adpcm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the 4-bit CODE stream→assemble a real single-block IMA
    ADPCM WAV (block header predictor/index + packed low-nibble-first
    data)→decode(generic RIFF walk + adaptive-delta recurrence)→
    features. The oracle re-runs the decoder as a recursive CTE with a
    generated step-table CASE — a genuinely independent implementation,
    so the adaptive state machine (not just the container) is proven.
    Second compressed audio codec (4:1)."""
    from shifu_spark.operators.multimodal import extract_compressed_audio_features

    docs = _docs(spark, sf_dir)
    return extract_compressed_audio_features(_synth_adpcm_payloads(docs)).orderBy("doc_id")


def _synth_flac_payloads(docs: DataFrame) -> DataFrame:
    """payload(doc d) = FLAC stream of n=150+d%101 mono samples,
    sample[i] = ((d*37 + i*29) % 64001) - 32000 (a wrapping ramp:
    constant first difference except at wraps, so the fixed-predictor +
    Rice path genuinely compresses)."""
    from shifu_spark.operators.multimodal import encode_flac

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                n = 150 + int(d) % 101
                i = np.arange(n, dtype=np.int64)
                x = (int(d) * 37 + i * 29) % 64001 - 32000
                payloads.append(encode_flac(x))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return _spread_doc_ids(docs).mapInPandas(gen, "doc_id long, payload binary")


@query(
    "audio_flac_features",
    """
WITH d AS (SELECT doc_id, 150 + doc_id % 101 AS n FROM documents),
idx AS (SELECT doc_id, unnest(range(0, n)) AS i FROM d),
s AS (SELECT doc_id, i, ((doc_id*37 + i*29) % 64001) - 32000 AS x FROM idx),
sl AS (SELECT doc_id, x, lag(x) OVER (PARTITION BY doc_id ORDER BY i) AS pv FROM s)
SELECT doc_id,
  'flac' AS codec,
  CAST(8000 AS INT) AS sample_rate,
  CAST(1 AS INT) AS n_channels,
  CAST(count(*) AS BIGINT) AS n_samples,
  CAST(count(*) * 1000 // 8000 AS BIGINT) AS duration_ms,
  CAST(max(abs(x)) AS INT) AS peak,
  sqrt(CAST(sum(x*x) AS DOUBLE) / count(*)) AS rms,
  CAST(count(*) FILTER (WHERE pv * x < 0) AS BIGINT) AS zero_crossings
FROM sl GROUP BY doc_id ORDER BY doc_id
""",
    stage="multimodal",
)
def audio_flac_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize→encode(REAL FLAC: fixed linear predictors + Rice-coded
    residuals, STREAMINFO MD5 + CRC-8/CRC-16 framing, written from the
    public spec)→decode(full parse, every integrity check)→features.
    FLAC is LOSSLESS, so the oracle restates the features directly from
    the synthesis formula — any codec bug that perturbs even one sample
    breaks the MD5/CRC (loud) or the hash (value). Fourth compression
    family in the media lane (DCT+Huffman, DEFLATE, LZW, LPC+Rice);
    beyond-reference — the reference has no media path."""
    from shifu_spark.operators.multimodal import extract_flac_features

    docs = _docs(spark, sf_dir)
    return extract_flac_features(_synth_flac_payloads(docs)).orderBy("doc_id")


def _synth_mjpeg_avi_payloads(docs: DataFrame) -> DataFrame:
    """payload(doc d) = real AVI with nf=3+d%4 MJPG frames of
    16*(1+d%3) x 16*(1+d%2); frame f is 16x16-piecewise-constant
    grayscale with tile (ti, tj) value (d*13 + f*29 + ti*7 + tj*3) % 240
    + 8 — inside the q=100 exactness window of the JPEG codec."""
    from shifu_spark.operators.multimodal import encode_avi_mjpeg, encode_jpeg

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                nf, w, h = 3 + d % 4, 16 * (1 + d % 3), 16 * (1 + d % 2)
                frames = []
                ti = np.arange(h // 16, dtype=np.int64)[:, None]
                tj = np.arange(w // 16, dtype=np.int64)[None, :]
                for f in range(nf):
                    tiles = (d * 13 + f * 29 + ti * 7 + tj * 3) % 240 + 8
                    g = np.repeat(np.repeat(tiles, 16, axis=0), 16, axis=1).astype(np.uint8)
                    frames.append(
                        encode_jpeg(np.stack([g, g, g], axis=2), quality=100, subsampling="4:2:0")
                    )
                payloads.append(encode_avi_mjpeg(frames, w, h, fps=25))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return _spread_doc_ids(docs).mapInPandas(gen, "doc_id long, payload binary")


@query(
    "video_mjpeg_features",
    """
WITH d AS (SELECT doc_id, 3 + doc_id % 4 AS nf, 16*(1 + doc_id % 3) AS w,
                  16*(1 + doc_id % 2) AS h FROM documents),
fr AS (SELECT doc_id, nf, w, h, unnest(range(0, nf)) AS f FROM d),
sampled AS (SELECT * FROM fr WHERE f % 2 = 0),
t AS (SELECT doc_id, nf, w, h, f, unnest(range(0, (w//16)*(h//16))) AS t FROM sampled),
v AS (SELECT doc_id, nf, w, h, f,
        (doc_id*13 + f*29 + (t // (w//16))*7 + (t % (w//16))*3) % 240 + 8 AS val
      FROM t)
SELECT doc_id,
  'mjpeg' AS codec,
  CAST(max(w) AS INT) AS width,
  CAST(max(h) AS INT) AS height,
  CAST(max(nf) AS INT) AS n_frames,
  CAST(count(DISTINCT f) AS INT) AS n_sampled,
  CAST(3 * 256 * sum(val) AS BIGINT) AS byte_sum,
  round(CAST(256 * sum(val) AS DOUBLE)
        / (count(DISTINCT f) * max(w) * max(h)), 6) AS mean_y
FROM v GROUP BY doc_id ORDER BY doc_id
""",
    stage="multimodal",
)
def video_mjpeg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize→encode(per-frame REAL baseline JPEG + REAL AVI RIFF
    muxing: avih/strl headers, movi '00dc' chunks, idx1)→decode(RIFF
    LIST walk, MJPG handler check, per-frame Huffman+IDCT)→frame-sample
    →stats. Frames sit in the proven q=100 piecewise-constant exactness
    window, so the oracle recomputes sampled-frame pixel sums in closed
    form — COMPRESSED video (DCT+Huffman per frame) is now proven
    end-to-end; inter-frame codecs (h264) remain the honest stub."""
    from shifu_spark.operators.multimodal import extract_mjpeg_video_features

    docs = _docs(spark, sf_dir)
    return extract_mjpeg_video_features(
        _synth_mjpeg_avi_payloads(docs), sample_every=2
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# LLM-pipeline text retrieval/decontamination (round-4 continuation):
# BM25 ranking (the classic keyword-retrieval scorer — the lexical half
# of a training-data search/filter stack) and benchmark decontamination
# (n-gram overlap of candidate training docs against an eval/benchmark
# set — the standard pretraining hygiene pass, cf. GPT-3 appendix /
# Dolma dedup tooling; both beyond-reference training-data ops).
# ---------------------------------------------------------------------------

_BM25_TERMS = ["spark", "join", "window"]
_BM25_K1, _BM25_B, _BM25_TOPK = 1.2, 0.75, 20


@query(
    "bm25_topk",
    f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
dl AS (SELECT doc_id, len(toks) AS dl FROM toks),
stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM toks)
  WHERE term IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
contrib AS (
  SELECT tf.doc_id,
         CAST(round(
           ln(CAST(1 AS DOUBLE) + (stats.n_docs - dfreq.df + CAST(0.5 AS DOUBLE))
                                  / (dfreq.df + CAST(0.5 AS DOUBLE)))
           * (tf.tf * (CAST({_BM25_K1} AS DOUBLE) + CAST(1 AS DOUBLE)))
           / (tf.tf + CAST({_BM25_K1} AS DOUBLE)
              * (CAST(1 AS DOUBLE) - CAST({_BM25_B} AS DOUBLE)
                 + CAST({_BM25_B} AS DOUBLE) * dl.dl
                   / (CAST(stats.sum_dl AS DOUBLE) / stats.n_docs)))
           * CAST(1000000 AS DOUBLE)) AS BIGINT) AS c_micro
  FROM tf JOIN dl USING (doc_id) CROSS JOIN stats JOIN dfreq USING (term)
)
SELECT doc_id, sum(c_micro) / CAST(1000000 AS DOUBLE) AS score
FROM contrib GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT {_BM25_TOPK}
""",
    stage="text",
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25(k1=1.2, b=0.75) top-20 docs for a pinned 3-term query.

    Plan shape (the one that survives 100 TB): per-term tf and doc
    length are computed IN-ROW (size(filter(toks, ...)) per query
    term — no token explode, no (doc, term) shuffle at all) in ONE
    corpus scan, persisted; corpus stats AND per-term
    document frequencies then come out of a single 1-row aggregate
    over that cache (broadcast back), and the score is one more
    narrow in-row expression. The only exchanges in the whole query
    are the 1-row aggregate and the TakeOrderedAndProject top-k —
    zero data-scale shuffles. Per-term contributions are rounded to
    integer micro-units and summed in fixed column order so the score
    is exact and order-independent (the dyadic trick from
    unigram_logprob_quality, adapted).

    The top-k result is finalized through ``_materialize_release`` so
    the persisted corpus projection is released deterministically when
    the query returns (ADVICE r4), not left to the ContextCleaner."""
    out, caches = _bm25_plan(spark, sf_dir)
    return _materialize_release(out, caches)


def _bm25_plan(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, list[DataFrame]]:
    """Lazy BM25 plan + the caches it persists — split out so the plan
    shape stays inspectable (tests/test_plans.py) after the registry
    query started finalizing eagerly."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.split("text", " ").alias("toks"))
    tf_cols = [
        F.expr(f"size(filter(toks, x -> x = '{t}'))").alias(f"tf_{i}")
        for i, t in enumerate(_BM25_TERMS)
    ]
    wide = toks.select("doc_id", F.size("toks").alias("dl"), *tf_cols).persist()
    aggs = [F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")] + [
        F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
        for i in range(len(_BM25_TERMS))
    ]
    glob = wide.agg(*aggs)
    one = F.lit(1.0)
    k1, b = F.lit(_BM25_K1), F.lit(_BM25_B)
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    c_micro = []
    for i in range(len(_BM25_TERMS)):
        tf_i, df_i = F.col(f"tf_{i}"), F.col(f"df_{i}")
        idf = F.log(one + (F.col("n_docs") - df_i + F.lit(0.5)) / (df_i + F.lit(0.5)))
        contrib = (
            idf
            * (tf_i * (k1 + one))
            / (tf_i + k1 * (one - b + b * F.col("dl") / avgdl))
            * F.lit(1000000.0)
        )
        c_micro.append(F.when(tf_i > 0, F.round(contrib).cast("long")).otherwise(F.lit(0)))
    score = sum(c_micro[1:], c_micro[0]) / F.lit(1000000.0)
    out = (
        wide.crossJoin(F.broadcast(glob))
        .filter(sum(F.col(f"tf_{i}") for i in range(len(_BM25_TERMS))) > 0)
        .select("doc_id", score.alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(_BM25_TOPK)
    )
    return out, [wide]


@query(
    "decontamination_overlap",
    """
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(toks) - 4, 1) + 1),
                 i -> array_to_string(toks[i:i+4], ' ')))) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
),
bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
train AS (SELECT doc_id, s FROM sh WHERE doc_id % 50 <> 0)
SELECT train.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(count(bench.s) AS BIGINT) AS n_contaminated,
       round(CAST(count(bench.s) AS DOUBLE) / count(*), 6) AS contamination_frac
FROM train LEFT JOIN bench ON train.s = bench.s
GROUP BY train.doc_id ORDER BY train.doc_id
""",
    stage="text",
)
def decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per training doc, the fraction of its
    distinct word 5-grams that appear anywhere in the benchmark set
    (docs with doc_id % 50 == 0 stand in for the eval suite). The
    benchmark shingle set is broadcast — eval suites are small by
    nature, so at 100 TB this is one scan of the training corpus with a
    map-side semi-join, no shuffle of the big side. Composes
    dedup.shingles_df (same tokenizer the dedup family proves)."""
    from shifu_spark.operators.dedup import shingles_df

    docs = _docs(spark, sf_dir)
    sh = shingles_df(docs, n=5)
    bench = (
        sh.filter(F.col("doc_id") % 50 == 0).select("shingle").distinct()
        .withColumn("hit", F.lit(1))
    )
    train = sh.filter(F.col("doc_id") % 50 != 0)
    return (
        train.join(F.broadcast(bench), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("hit").alias("n_contaminated"),
            F.round(F.count("hit") / F.count("*"), 6).alias("contamination_frac"),
        )
        .orderBy("doc_id")
    )


# PII synth: the corpus has no natural PII (word-salad text), so the
# query injects it deterministically from doc_id — the proven codec
# pattern (synthesize -> operate -> verify). ONE formula string, spelled
# per engine, keeps the Spark side and the oracle injection identical.
_PII_AUG_SPARK = (
    "concat(text, ' contact user', cast(doc_id as string), '@example.com from host ',"
    " cast(doc_id % 256 as string), '.17.', cast(doc_id % 64 as string),"
    " '.9 or call 555-01', lpad(cast(doc_id % 100 as string), 2, '0'),"
    " CASE WHEN doc_id % 5 = 0 THEN concat(' cc admin', cast(doc_id as string), '@test.org') ELSE '' END,"
    " CASE WHEN doc_id % 4 = 0 THEN concat(' and 10.0.', cast(doc_id % 32 as string), '.1') ELSE '' END)"
)
_PII_AUG_DUCK = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com from host '"
    " || CAST(doc_id % 256 AS VARCHAR) || '.17.' || CAST(doc_id % 64 AS VARCHAR)"
    " || '.9 or call 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')"
    " || (CASE WHEN doc_id % 5 = 0 THEN ' cc admin' || CAST(doc_id AS VARCHAR) || '@test.org' ELSE '' END)"
    " || (CASE WHEN doc_id % 4 = 0 THEN ' and 10.0.' || CAST(doc_id % 32 AS VARCHAR) || '.1' ELSE '' END)"
)


def _pii_oracle() -> str:
    from shifu_spark.operators.text import PII_PATTERNS

    e, i, p = PII_PATTERNS["email"], PII_PATTERNS["ip"], PII_PATTERNS["phone"]
    return f"""
WITH aug AS (SELECT doc_id, {_PII_AUG_DUCK} AS t FROM documents),
s1 AS (SELECT doc_id, t, regexp_replace(t, '{e}', '<EMAIL>', 'g') AS t1 FROM aug),
s2 AS (SELECT doc_id, t, t1, regexp_replace(t1, '{i}', '<IP>', 'g') AS t2 FROM s1)
SELECT doc_id,
  len(regexp_extract_all(t, '{e}'))::INT AS n_emails,
  len(regexp_extract_all(t1, '{i}'))::INT AS n_ips,
  len(regexp_extract_all(t2, '{p}'))::INT AS n_phones,
  md5(regexp_replace(t2, '{p}', '<PHONE>', 'g')) AS redacted_digest
FROM s2 ORDER BY doc_id
"""


from shifu_spark.operators.text import (  # noqa: E402
    GOPHER_STOPWORDS as _GQ_STOP,
    QUALITY_CLF_BIAS as _QC_BIAS,
    QUALITY_CLF_WEIGHTS as _QC_W,
)

_GQ_STOP_SQL = ", ".join(f"'{s}'" for s in _GQ_STOP)
_QC_W_SQL = ", ".join(f"CAST({w} AS DOUBLE)" for w in _QC_W)


@query(
    "corpus_report_by_source",
    f"""
WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
q AS (
  SELECT doc_id, CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
         + exp(-(CAST({{qc_bias}} AS DOUBLE) + wsum / n_tokens))) AS score
  FROM (
    SELECT doc_id, len(toks) AS n_tokens,
           list_aggregate(list_transform(toks, x ->
             (list_value({{qc_w}}))[strpos('0123456789abcdef', substr(md5(x), 1, 1))]
           ), 'sum') AS wsum FROM t)),
gb AS (
  SELECT doc_id, len(toks) AS gn,
         list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS gsum_len,
         len(list_filter(toks, x -> list_contains([{{gq_stop}}], x))) AS gn_stop
  FROM t),
gbg AS (
  SELECT doc_id, gg2, count(*) AS c FROM (
    SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
           i -> toks[i] || ' ' || toks[i+1])) AS gg2 FROM t) GROUP BY doc_id, gg2),
gtop AS (SELECT doc_id, max(c) AS top_c FROM gbg GROUP BY doc_id),
rg AS (
  SELECT doc_id, CASE WHEN toks IS NULL THEN NULL ELSE
                 list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                 i -> array_to_string(toks[i:i+2], ' ')) END AS grams
  FROM t),
per_doc AS (
  SELECT t.doc_id, t.source, len(t.toks) AS n_tokens,
         round(q.score, 6) AS clf_score,
         (gb.gn BETWEEN 10 AND 100000
          AND gb.gsum_len / gb.gn >= CAST(2.0 AS DOUBLE)
          AND gb.gsum_len / gb.gn <= CAST(10.0 AS DOUBLE)
          AND gtop.top_c / greatest(gb.gn - 1, 1) <= CAST(0.20 AS DOUBLE)
          AND gb.gn_stop >= 2) AS gopher_keep,
         round(1.0::DOUBLE - len(list_distinct(rg.grams)) / len(rg.grams), 6) AS dup_frac
  FROM t JOIN q USING (doc_id) JOIN gb USING (doc_id)
  JOIN gtop USING (doc_id) JOIN rg USING (doc_id))
SELECT source,
  count(*)::BIGINT AS n_docs,
  sum(n_tokens)::BIGINT AS total_tokens,
  round(sum(n_tokens)::DOUBLE / count(*), 6) AS mean_tokens,
  round(sum(CAST(clf_score AS DECIMAL(38,10)))::DOUBLE / count(*), 6) AS mean_clf_score,
  round(count(*) FILTER (WHERE gopher_keep)::DOUBLE / count(*), 6) AS gopher_pass_rate,
  round(sum(CAST(dup_frac AS DECIMAL(38,10)))::DOUBLE / count(*), 6) AS mean_dup_frac
FROM per_doc GROUP BY source ORDER BY source
""".replace("{qc_bias}", str(_QC_BIAS)).replace("{qc_w}", _QC_W_SQL).replace("{gq_stop}", _GQ_STOP_SQL),
    stage="text",
)
def corpus_report_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus report card — the per-source rollup a data curator
    runs before touching mixture weights: volume (docs, tokens), mean
    quality-classifier score, Gopher pass rate, and mean in-document
    duplication, all from the same operators the funnel composes.
    Per-doc signals are narrow in-row expressions; ONE groupBy(source)
    shuffle of metric-sized rows finalizes. The rounded per-doc doubles
    are summed through DECIMAL(38,10) so the means are partition-order
    independent (the established determinism rule)."""
    from shifu_spark.operators.text import (
        dup_frac_expr,
        gopher_keep_expr,
        ngram_array_expr,
        quality_clf_score_expr,
    )

    docs = _docs(spark, sf_dir)
    # ONE projection over ONE corpus scan: every signal is an in-row
    # Column expression over the shared toks/grams arrays (the earlier
    # join-of-derived-frames form read the corpus five times and would
    # sort-merge-join on doc_id at scale)
    per_doc = docs.select(
        "source",
        F.split("text", " ").alias("toks"),
        ngram_array_expr("text").alias("grams"),
    ).select(
        "source",
        F.size("toks").alias("n_tokens"),
        F.round(quality_clf_score_expr(), 6).alias("clf_score"),
        gopher_keep_expr().alias("gopher_keep"),
        F.round(dup_frac_expr(), 6).alias("dup_frac"),
    )
    n = F.count(F.lit(1))
    return (
        per_doc.groupBy("source")
        .agg(
            n.alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.sum("n_tokens").cast("double") / n, 6).alias("mean_tokens"),
            F.round(
                F.sum(F.col("clf_score").cast("decimal(38,10)")).cast("double") / n, 6
            ).alias("mean_clf_score"),
            F.round(
                F.sum(F.col("gopher_keep").cast("long")).cast("double") / n, 6
            ).alias("gopher_pass_rate"),
            F.round(
                F.sum(F.col("dup_frac").cast("decimal(38,10)")).cast("double") / n, 6
            ).alias("mean_dup_frac"),
        )
        .orderBy("source")
    )


_Z_BITS, _Z_BUCKET_SHIFT = 8, 10


def _zorder_oracle() -> str:
    from shifu_spark.operators.layout import morton_interleave_duckdb

    lv = (1 << _Z_BITS) - 1
    inter = morton_interleave_duckdb(["zr_q", "zr_p"], _Z_BITS)
    return f"""
WITH mm AS (SELECT min(l_quantity) FILTER (WHERE isfinite(l_quantity)) AS mnq,
                   max(l_quantity) FILTER (WHERE isfinite(l_quantity)) AS mxq,
                   min(l_extendedprice) FILTER (WHERE isfinite(l_extendedprice)) AS mnp,
                   max(l_extendedprice) FILTER (WHERE isfinite(l_extendedprice)) AS mxp
            FROM lineitem),
r AS (  -- missing values rank NULL: the NULL zkey is their own layout group
  SELECT CASE WHEN l_quantity IS NOT NULL AND isfinite(l_quantity)
              THEN least(greatest(floor((l_quantity - mnq) / (mxq - mnq) * {lv} + 0.5), 0), {lv})::BIGINT END AS zr_q,
         CASE WHEN l_extendedprice IS NOT NULL AND isfinite(l_extendedprice)
              THEN least(greatest(floor((l_extendedprice - mnp) / (mxp - mnp) * {lv} + 0.5), 0), {lv})::BIGINT END AS zr_p
  FROM lineitem, mm),
k AS (SELECT zr_q, zr_p, {inter} AS zkey FROM r)
SELECT (zkey >> {_Z_BUCKET_SHIFT})::BIGINT AS zbucket,
  count(*)::BIGINT AS n,
  min(zr_q)::BIGINT AS min_q, max(zr_q)::BIGINT AS max_q,
  min(zr_p)::BIGINT AS min_p, max(zr_p)::BIGINT AS max_p
FROM k GROUP BY zbucket ORDER BY zbucket
"""


@query("zorder_skipping_stats", stage="query")
def zorder_skipping_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout planning (the Delta ``OPTIMIZE ZORDER`` / Iceberg
    sort-order analog): Morton-interleave 8-bit quantized
    (l_quantity, l_extendedprice) ranks, group rows into coarse Z-range
    buckets (zkey >> 10 ≈ files after a range-partitioned rewrite), and
    report each bucket's per-dimension rank min/max. The point the
    numbers prove: within a bucket BOTH dimensions are confined to a
    ≤32-of-256 rank window (top 3 bits of each dim fixed), so parquet
    footer min/max pruning skips ~97% of files for selective
    two-dimensional predicates — that's the 100 TB data-skipping story.
    Plan: one broadcast 1-row min/max agg + a narrow projection; the
    only data shuffle is the final catalog-sized groupBy."""
    from shifu_spark.operators.layout import zorder_keys

    li = _t(spark, sf_dir, "lineitem")
    z = zorder_keys(
        li.select("l_quantity", "l_extendedprice"),
        ["l_quantity", "l_extendedprice"],
        bits=_Z_BITS,
    )
    return (
        z.groupBy(
            F.shiftright("zkey", _Z_BUCKET_SHIFT).cast("long").alias("zbucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("zr_l_quantity").alias("min_q"),
            F.max("zr_l_quantity").alias("max_q"),
            F.min("zr_l_extendedprice").alias("min_p"),
            F.max("zr_l_extendedprice").alias("max_p"),
        )
        .orderBy("zbucket")
    )


ORACLES["zorder_skipping_stats"] = _zorder_oracle()


@query("pii_redaction", stage="text")
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the standard pre-tokenization pass of an LLM data
    pipeline (C4/Dolma-style): count + redact emails / IPv4s / phone
    numbers with typed tags, entirely JVM-side (regexp_extract_all +
    chained regexp_replace over one narrow scan; patterns restricted to
    the Java-regex ∩ RE2 common subset so the oracle's engine agrees).
    PII is injected deterministically from doc_id (the corpus text has
    none); the md5 digest of the redacted text proves the replacement
    byte-for-byte on both engines."""
    from shifu_spark.operators.text import pii_redact_df

    docs = _docs(spark, sf_dir)
    aug = docs.select("doc_id", F.expr(_PII_AUG_SPARK).alias("text"))
    return pii_redact_df(aug).orderBy("doc_id")


ORACLES["pii_redaction"] = _pii_oracle()


@query(
    "repetition_signals",
    """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
g AS (SELECT doc_id,
        CASE WHEN toks IS NULL THEN NULL ELSE
        list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                       i -> array_to_string(toks[i:i+2], ' ')) END AS grams
      FROM t)
SELECT doc_id,
  len(grams)::INT AS n_grams,
  len(list_distinct(grams))::INT AS n_distinct,
  round(1.0::DOUBLE - len(list_distinct(grams)) / len(grams), 6) AS dup_frac,
  (1.0::DOUBLE - len(list_distinct(grams)) / len(grams)) <= CAST(0.30 AS DOUBLE) AS keep
FROM g ORDER BY doc_id
""",
    stage="text",
)
def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-document repetition filter (Rae et al. 2021 repetition family;
    complement of the corpus-level chunk_dup_fraction): duplicate
    word-3-gram fraction per doc, computed IN-ROW — transform +
    array_distinct over the token array, zero corpus-side shuffle. The
    keep flag is decided on the unrounded fraction on both engines."""
    from shifu_spark.operators.text import repetition_signals_df

    docs = _docs(spark, sf_dir)
    return repetition_signals_df(docs).orderBy("doc_id")




@query(
    "gopher_quality_flags",
    f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
base AS (
  SELECT doc_id, len(toks) AS n_tokens,
         list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS sum_len,
         len(list_filter(toks, x -> list_contains([{_GQ_STOP_SQL}], x))) AS n_stop
  FROM t),
bg AS (
  SELECT doc_id, g, count(*) AS c FROM (
    SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
           i -> toks[i] || ' ' || toks[i+1])) AS g
    FROM t) GROUP BY doc_id, g),
top AS (SELECT doc_id, max(c) AS top_c FROM bg GROUP BY doc_id)
SELECT base.doc_id,
  CAST(n_tokens AS INT) AS n_tokens,
  round(sum_len / n_tokens, 6) AS mean_word_len,
  round(top_c / greatest(n_tokens - 1, 1), 6) AS top_bigram_frac,
  CAST(n_stop AS INT) AS n_stopwords,
  (n_tokens BETWEEN 10 AND 100000
   AND sum_len / n_tokens >= CAST(2.0 AS DOUBLE)
   AND sum_len / n_tokens <= CAST(10.0 AS DOUBLE)
   AND top_c / greatest(n_tokens - 1, 1) <= CAST(0.20 AS DOUBLE)
   AND n_stop >= 2) AS keep
FROM base JOIN top ON base.doc_id = top.doc_id
ORDER BY base.doc_id
""",
    stage="text",
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule corpus filters (token-count / mean-word-length /
    top-bigram-mass / stopword floor) as ONE narrow in-row map: the
    bigram multiplicity comes from an aggregate() run-length pass over
    the sorted in-row bigram array, so the whole operator is
    shuffle-free on the corpus side (the oracle mirrors it relationally
    with an unnest+groupBy). Signals + conjunctive keep flag per doc."""
    from shifu_spark.operators.text import gopher_quality_df

    return gopher_quality_df(_docs(spark, sf_dir)).orderBy("doc_id")


@query(
    "quality_classifier_score",
    f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (
  SELECT doc_id, len(toks) AS n_tokens,
         list_aggregate(list_transform(toks, x ->
           (list_value({_QC_W_SQL}))[strpos('0123456789abcdef', substr(md5(x), 1, 1))]
         ), 'sum') AS wsum
  FROM t)
SELECT doc_id,
  CAST(n_tokens AS INT) AS n_tokens,
  round(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
        + exp(-(CAST({_QC_BIAS} AS DOUBLE) + wsum / n_tokens))), 6) AS clf_score,
  (CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
        + exp(-(CAST({_QC_BIAS} AS DOUBLE) + wsum / n_tokens))) >= CAST(0.5 AS DOUBLE)) AS keep
FROM s ORDER BY doc_id
""",
    stage="text",
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style quality classifier with pinned dyadic weights:
    token -> md5-hex bucket -> mean bucket weight -> sigmoid. In-row
    aggregate over the token array (zero shuffle); the dyadic weights
    make the per-doc sum exact and order-independent, so the sigmoid
    input is the identical double on both engines."""
    from shifu_spark.operators.text import quality_classifier_df

    return quality_classifier_df(_docs(spark, sf_dir)).orderBy("doc_id")


_PACK_BUDGET, _PACK_SHARDS = 512, 16


def _packing_inputs(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, shard) — the packing plan's input projection,
    shared verbatim by the batch and streaming twins so their shard
    hash and token count can never drift apart."""
    shard = (
        F.expr("instr('0123456789abcdef', substring(md5(cast(cast(doc_id as string) as binary)), 1, 1))")
        - 1
    )
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
        shard.cast("int").alias("shard"),
    )


@query(
    "sequence_packing",
    f"""
WITH t AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR), 1, 1)) - 1 AS shard
  FROM documents),
c AS (
  SELECT doc_id, n_tokens, shard,
         coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset
  FROM t)
SELECT doc_id,
  CAST(shard AS INT) AS shard,
  CAST(n_tokens AS INT) AS n_tokens,
  CAST(tok_offset AS BIGINT) AS tok_offset,
  CAST(tok_offset // {_PACK_BUDGET} AS BIGINT) AS first_seq,
  CAST((tok_offset + n_tokens - 1) // {_PACK_BUDGET} - tok_offset // {_PACK_BUDGET} + 1 AS BIGINT)
    AS n_seqs
FROM c ORDER BY doc_id
""",
    stage="text",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing plan: concatenate docs in a
    deterministic order and chop into fixed {budget}-token training
    sequences. Docs are first hashed into shards (md5 of the doc id —
    engine-portable and layout-independent); within a shard a window
    prefix-sum assigns each doc its token offset, first sequence index
    and spanned-sequence count. The per-shard window is the one
    sequential piece packing fundamentally needs; at 100 TB you scale
    the SHARD COUNT with the corpus (shard ~ output file) so each
    window partition stays bounded — 16 here at test scale. No other
    shuffle: one scan + one window exchange on shard."""
    docs = _docs(spark, sf_dir)
    from pyspark.sql import Window

    t = _packing_inputs(docs)
    w = Window.partitionBy("shard").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    c = t.withColumn("tok_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    return c.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.col("tok_offset").cast("long").alias("tok_offset"),
        F.expr(f"tok_offset div {_PACK_BUDGET}").cast("long").alias("first_seq"),
        (
            F.expr(f"(tok_offset + n_tokens - 1) div {_PACK_BUDGET}")
            - F.expr(f"tok_offset div {_PACK_BUDGET}")
            + F.lit(1)
        ).cast("long").alias("n_seqs"),
    ).orderBy("doc_id")


@query("embedding_ivfpq_topk", stage="similarity")
def embedding_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ADC: the canonical production ANN (coarse IVF cells prune the
    corpus to the query's top-2 probed cells, PQ asymmetric distance
    ranks only those candidates — operators/similarity.ivf_pq_topk_df).
    Seed centroids (vec_id < 8) + pinned query/codebooks keep the oracle
    deterministic; the oracle re-derives the probed cells INDEPENDENTLY
    in SQL (window over centroid cosines), so the driver-side probe
    computation is cross-checked, not copied."""
    from shifu_spark.operators.similarity import (
        ivf_pq_topk_df,
        pq_codebooks_pinned,
        pq_query_pinned,
    )

    emb = _emb(spark, sf_dir)
    return ivf_pq_topk_df(
        emb, pq_query_pinned(), pq_codebooks_pinned(), F.col("vec_id") < 8,
        k=20, probes=2,
    )


def _ivfpq_oracle() -> str:
    from shifu_spark.operators.similarity import (
        pq_adc_lut,
        pq_codebooks_pinned,
        pq_query_pinned,
    )

    q = pq_query_pinned()
    lut = pq_adc_lut(q, pq_codebooks_pinned())
    qv = "list_value(" + ", ".join(f"({v!r})::DOUBLE" for v in q) + ")"
    from shifu_spark.operators.similarity import pq_adc_case_sql

    adc = pq_adc_case_sql(lut)
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS vnorm
  FROM embeddings
),
cents AS (SELECT vec_id AS cid, v AS cvec, vnorm AS cnorm FROM e WHERE vec_id < 8),
probe AS (
  SELECT cid, row_number() OVER (
    ORDER BY list_dot_product({qv}, cvec)
             / (sqrt(list_dot_product({qv}, {qv})) * cnorm) DESC, cid ASC) AS prn
  FROM cents),
scored AS (
  SELECT e.vec_id, c.cid,
         list_dot_product(e.v, c.cvec) / (e.vnorm * c.cnorm) AS ccos
  FROM e CROSS JOIN cents c
),
assigned AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn
  FROM scored
),
cells AS (SELECT vec_id, cid AS cell FROM assigned WHERE rn = 1),
{_pq_codes_cte().lstrip()},
cand AS (
  SELECT cells.vec_id, cells.cell,
         codes.code0, codes.code1, codes.code2, codes.code3
  FROM cells JOIN codes USING (vec_id)
  WHERE cells.cell IN (SELECT cid FROM probe WHERE prn <= 2)
)
SELECT vec_id, cell, round({adc}, 6) AS adc
FROM cand ORDER BY {adc}, vec_id LIMIT 20
"""


ORACLES["embedding_ivfpq_topk"] = _ivfpq_oracle()


_ANN_K, _ANN_PROBES, _ANN_R, _ANN_TRAIN_N, _ANN_PQ_K = 20, 2, 100, 2048, 16


def _ann_sq_expr(vec_sql: str, q: list[float]) -> str:
    """Exact squared L2 to the pinned query as the left-associated fold
    both engines run; ``vec_sql`` is an engine-specific element accessor
    with {i} as the 1-based index placeholder."""
    return " + ".join(
        f"({vec_sql.format(i=i + 1)} - ({v!r})) * ({vec_sql.format(i=i + 1)} - ({v!r}))"
        for i, v in enumerate(q)
    )


@query("ann_recall_report", stage="similarity")
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality ladder: recall@20 against the EXACT answer for three
    methods sharing one IVF layout (seed cells, 2 probed):

      ivf_flat      exact distance inside the probed cells (the recall
                    CEILING cell pruning allows)
      ivfpq_adc     pure PQ asymmetric-distance ranking with TRAINED
                    codebooks (pq_train_codebooks — shows raw
                    quantization loss)
      ivfpq_rerank  ADC shortlist (R=100) + exact re-rank — the
                    production IVF-PQ configuration, which recovers the
                    ivf_flat ceiling at a fraction of the exact work

    Codebooks are trained on the first 2048 vectors by vec_id — the
    bounded driver-side sample fit that IS the production shape (FAISS
    trains PQ on a sample regardless of corpus size). The oracle trains
    the same deterministic Lloyd fit on the same rows read through
    DuckDB, so every count is cross-engine-checked. Measured honestly:
    on THIS corpus (uniform random embeddings — the hard case for ANN,
    no cluster structure) the ladder is ~0.70 / ~0.20 / ~0.70.

    Cost shape: the wide literal expressions (64-term d2 fold, k=16
    ADC CASEs) are evaluated ONCE into localCheckpoints, and all three
    method counts come from a single tagged-union action — the naive
    five-action form re-ran the big exprs per count."""
    from shifu_spark.operators.similarity import (
        ivf_assign_cells,
        pq_adc_case_sql,
        pq_adc_lut,
        pq_encode_arrow,
        pq_query_pinned,
        pq_train_codebooks,
        probed_cells,
    )

    emb = _emb(spark, sf_dir)
    q = pq_query_pinned()
    sample = [
        [float(x) for x in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(_ANN_TRAIN_N).select("embedding").collect()
    ]
    books = pq_train_codebooks(sample, subspaces=4, k=_ANN_PQ_K, iters=10)

    # Arrow kernels for the two wide computations (exact-d2 fold and
    # k=16 PQ encode): the expression forms pay ~5s of codegen compile
    # per run at this expression width; both kernels accumulate
    # sequentially over dims, so floats (and therefore argmin codes)
    # are bit-identical to the SQL folds the oracle runs — pinned by
    # the differential test in tests/test_operators.py.
    def _d2_arrow(batches):
        import numpy as np
        import pandas as pd

        qa = np.asarray(q, dtype=np.float64)
        for pdf in batches:
            M = np.asarray([list(map(float, v)) for v in pdf["embedding"]], dtype=np.float64)
            d = np.zeros(len(M))
            for j in range(len(qa)):  # sequential over dims == SQL fold
                diff = M[:, j] - qa[j]
                d = d + diff * diff
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "d2": d})

    d2f = (
        emb.select("vec_id", "embedding")
        .mapInPandas(_d2_arrow, "vec_id long, d2 double")
        .persist()
    )
    adcf = (
        pq_encode_arrow(emb, books)
        .withColumn("adc", F.expr(pq_adc_case_sql(pq_adc_lut(q, books))))
        .select("vec_id", "adc")
        .persist()
    )
    probed = probed_cells(emb, q, F.col("vec_id") < 8, _ANN_PROBES)
    cand = (
        ivf_assign_cells(emb, F.col("vec_id") < 8)
        .filter(F.col("cell").isin(probed))
        .select("vec_id")
        .persist()
    )

    exact = d2f.orderBy("d2", "vec_id").limit(_ANN_K).select("vec_id")
    flat = cand.join(d2f, "vec_id").orderBy("d2", "vec_id").limit(_ANN_K).select("vec_id")
    adc_only = cand.join(adcf, "vec_id").orderBy("adc", "vec_id").limit(_ANN_K).select("vec_id")
    short = cand.join(adcf, "vec_id").orderBy("adc", "vec_id").limit(_ANN_R).select("vec_id")
    rerank = short.join(d2f, "vec_id").orderBy("d2", "vec_id").limit(_ANN_K).select("vec_id")

    tagged = (
        flat.withColumn("method", F.lit("ivf_flat"))
        .union(adc_only.withColumn("method", F.lit("ivfpq_adc")))
        .union(rerank.withColumn("method", F.lit("ivfpq_rerank")))
    )
    try:
        counts = {
            r["method"]: r["h"]
            for r in tagged.join(exact, "vec_id")
            .groupBy("method")
            .agg(F.count("*").alias("h"))
            .collect()
        }
    finally:
        # metric-sized counts are on the driver now; release the wide
        # intermediates deterministically (ADVICE r4) instead of leaving
        # them to the ContextCleaner
        for c in (d2f, adcf, cand):
            c.unpersist()
    out = [
        (m, _ANN_K, int(counts.get(m, 0)), round(counts.get(m, 0) / _ANN_K, 6))
        for m in ("ivf_flat", "ivfpq_adc", "ivfpq_rerank")
    ]
    return local_frame(spark, out, "method string, k int, hits int, recall double")


def _ann_recall_oracle() -> str:
    """Generated at registration from the CANONICAL gate dataset
    (``GATE_SF_DIR``) — the correctness gate always compares there, and
    reading the same ``_ANN_TRAIN_N`` training rows through DuckDB
    guarantees the oracle's codebooks are fitted to byte-identical
    inputs.  The Spark side trains on the first ``_ANN_TRAIN_N`` rows of
    whatever ``sf_dir`` it runs against, so this oracle is only valid at
    ``GATE_SF_DIR`` (where the gate compares); verifying at another
    scale needs a rebuilt oracle."""
    import duckdb

    from shifu_spark.operators.similarity import (
        pq_adc_case_sql,
        pq_adc_lut,
        pq_query_pinned,
        pq_train_codebooks,
    )

    con = duckdb.connect()
    sample = [
        list(map(float, r[0]))
        for r in con.sql(
            f"SELECT embedding FROM read_parquet('{GATE_SF_DIR}/embeddings.parquet') "
            f"ORDER BY vec_id LIMIT {_ANN_TRAIN_N}"
        ).fetchall()
    ]
    q = pq_query_pinned()
    books = pq_train_codebooks(sample, subspaces=4, k=_ANN_PQ_K, iters=10)
    lut = pq_adc_lut(q, books)
    qv = "list_value(" + ", ".join(f"({v!r})::DOUBLE" for v in q) + ")"
    sq = _ann_sq_expr("embedding[{i}]::DOUBLE", q)

    dist_cols, code_cols = [], []
    for s, cents in enumerate(books):
        off = s * len(cents[0])
        for c, cent in enumerate(cents):
            dist_cols.append(f"{_pq_dist_sql(off, cent)} AS d{s}{c}")
        kk = len(cents)
        whens = []
        for c in range(kk - 1):
            cond = " AND ".join(f"d{s}{c} <= d{s}{o}" for o in range(c + 1, kk))
            whens.append(f"WHEN {cond} THEN {c}")
        code_cols.append(f"CASE {' '.join(whens)} ELSE {kk - 1} END AS code{s}")

    hits = lambda t: f"(SELECT count(*) FROM {t} JOIN exact20 USING (vec_id))"  # noqa: E731
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS vnorm
  FROM embeddings
),
cents AS (SELECT vec_id AS cid, v AS cvec, vnorm AS cnorm FROM e WHERE vec_id < 8),
probe AS (
  SELECT cid, row_number() OVER (
    ORDER BY list_dot_product({qv}, cvec)
             / (sqrt(list_dot_product({qv}, {qv})) * cnorm) DESC, cid ASC) AS prn
  FROM cents),
scored AS (
  SELECT e.vec_id, c.cid,
         list_dot_product(e.v, c.cvec) / (e.vnorm * c.cnorm) AS ccos
  FROM e CROSS JOIN cents c),
assigned AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn
  FROM scored),
cand AS (
  SELECT vec_id FROM assigned
  WHERE rn = 1 AND cid IN (SELECT cid FROM probe WHERE prn <= {_ANN_PROBES})),
d AS (SELECT vec_id, {', '.join(dist_cols)} FROM embeddings),
codes AS (SELECT vec_id, {', '.join(code_cols)} FROM d),
adcf AS (SELECT vec_id, {pq_adc_case_sql(lut)} AS adc FROM codes),
d2f AS (SELECT vec_id, {sq} AS d2 FROM embeddings),
exact20 AS (SELECT vec_id FROM d2f ORDER BY d2, vec_id LIMIT {_ANN_K}),
flat20 AS (SELECT vec_id FROM cand JOIN d2f USING (vec_id) ORDER BY d2, vec_id LIMIT {_ANN_K}),
adc20 AS (SELECT vec_id FROM cand JOIN adcf USING (vec_id) ORDER BY adc, vec_id LIMIT {_ANN_K}),
shortr AS (SELECT vec_id FROM cand JOIN adcf USING (vec_id) ORDER BY adc, vec_id LIMIT {_ANN_R}),
rerank20 AS (SELECT vec_id FROM shortr JOIN d2f USING (vec_id) ORDER BY d2, vec_id LIMIT {_ANN_K})
SELECT 'ivf_flat' AS method, CAST({_ANN_K} AS INT) AS k,
       CAST({hits('flat20')} AS INT) AS hits,
       round({hits('flat20')} / {_ANN_K}, 6) AS recall
UNION ALL
SELECT 'ivfpq_adc', CAST({_ANN_K} AS INT),
       CAST({hits('adc20')} AS INT), round({hits('adc20')} / {_ANN_K}, 6)
UNION ALL
SELECT 'ivfpq_rerank', CAST({_ANN_K} AS INT),
       CAST({hits('rerank20')} AS INT), round({hits('rerank20')} / {_ANN_K}, 6)
"""


# Guarded by an explicit existence check (NOT a bare except): a missing
# canonical gate dataset legitimately degrades to rows-only, but any
# real failure in the oracle builder must raise loudly at import rather
# than silently weaken the correctness gate. The build cost is bounded
# (a {_ANN_TRAIN_N}=2048-row read + a 4x16-centroid Lloyd fit, ~100ms).
import os as _os  # noqa: E402

if _os.path.exists(f"{GATE_SF_DIR}/embeddings.parquet"):
    ORACLES["ann_recall_report"] = _ann_recall_oracle()


def _mixture_oracle() -> str:
    from shifu_spark.operators.purify import _hex_threshold

    whens = " ".join(f"WHEN {b} THEN '{_hex_threshold(b / 10)}'" for b in range(1, 10))
    return f"""
WITH d AS (
  SELECT source, doc_id,
         (CAST(substr(source, 4) AS INT) * 7) % 9 + 1 AS bucket
  FROM documents),
k AS (
  SELECT source, bucket,
         md5('mix' || '|' || doc_id) < (CASE bucket {whens} END) AS keep
  FROM d)
SELECT source,
  count(*) AS n_docs,
  count(*) FILTER (WHERE keep) AS n_kept,
  round(max(bucket) / CAST(10 AS DOUBLE), 6) AS target_rate,
  round(count(*) FILTER (WHERE keep) / count(*), 6) AS kept_frac
FROM k GROUP BY source ORDER BY source
"""


@query("source_mixture_sample", stage="stats")
def source_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining data-mixture sampling: each source is down-sampled at
    its own target rate (the mixture-weights step of corpus assembly —
    e.g. upweight curated sources, downweight crawl). Rates here are a
    pinned function of the source index (((idx*7) % 9 + 1)/10); row
    membership is the content-keyed md5-threshold test from
    purify.hash_bernoulli_sample, so the sampled corpus is identical
    across reruns, partitionings and engines — reproducible mixtures
    are what make ablations comparable. One narrow scan + one
    per-source agg; no shuffle of kept rows needed to decide
    membership."""
    docs = _docs(spark, sf_dir)
    return _mixture_rollup(_mixture_flags(docs)).orderBy("source")


def _mixture_flags(docs: DataFrame) -> DataFrame:
    """(source, doc_id, bucket, keep) — the mixture membership
    projection, shared verbatim by the batch and streaming twins."""
    from shifu_spark.operators.purify import _hash_key, _hex_threshold

    whens = " ".join(f"WHEN {b} THEN '{_hex_threshold(b / 10)}'" for b in range(1, 10))
    return docs.select(
        "source",
        "doc_id",
        F.expr("(CAST(substring(source, 4) AS INT) * 7) % 9 + 1").alias("bucket"),
    ).withColumn(
        # the canonical salted key from purify (one spelling for every
        # hash-membership op; its NULL/delimiter contract applies here).
        # coalesce: a NULL/unparseable source has no mixture rate — the
        # doc is deterministically NOT sampled (keep=false), so the
        # rollup counts 0 kept instead of a NULL n_kept
        "keep",
        F.coalesce(
            _hash_key(["doc_id"], "mix") < F.expr(f"CASE bucket {whens} END"),
            F.lit(False),
        ),
    )


def _mixture_rollup(d: DataFrame) -> DataFrame:
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.round(F.max("bucket") / F.lit(10.0), 6).alias("target_rate"),
        F.round(F.sum(F.col("keep").cast("long")) / F.count(F.lit(1)), 6).alias("kept_frac"),
    )


ORACLES["source_mixture_sample"] = _mixture_oracle()


@query("streaming_source_mixture", stage="streaming")
def streaming_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of source_mixture_sample (11th streaming pattern):
    the md5-threshold membership test is STATELESS (content-keyed, so a
    doc's fate never depends on arrival order or batch boundaries —
    exactly why reproducible mixtures stream trivially), and the only
    state is the per-source rollup counters. Bounded availableNow replay
    equals the batch rollup; shares the batch twin's oracle."""
    batch = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stream = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        # the _docs PRIMARY-KEY ingest contract, stream side
        .where(F.col("doc_id").isNotNull())
    )
    agg = _mixture_rollup(_mixture_flags(stream))
    sink = _run_stream_to_sink(spark, agg, "smix", output_mode="complete")
    return sink.orderBy("source")


# identical result contract to the batch twin -> identical oracle
ORACLES["streaming_source_mixture"] = ORACLES["source_mixture_sample"]


@query("streaming_decontamination", stage="streaming")
def streaming_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of decontamination_overlap (9th streaming
    pattern): documents arrive as a stream, the benchmark shingle set is
    a STATIC broadcast side (eval suites are small and change rarely —
    at scale you'd rebuild the broadcast per release, not per batch),
    and the per-doc overlap aggregate is the stream's one stateful
    operator. A doc's shingles explode inside its own input row, so the
    per-doc group completes within a micro-batch and the bounded
    availableNow replay equals the batch result the oracle computes."""
    from shifu_spark.operators.dedup import shingles_df

    batch = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = (
        shingles_df(batch.filter(F.col("doc_id") % 50 == 0), n=5)
        .select("shingle").distinct().withColumn("hit", F.lit(1))
    )
    stream = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        # the _docs PRIMARY-KEY ingest contract, stream side
        .where(F.col("doc_id").isNotNull())
    )
    tsh = shingles_df(stream.filter(F.col("doc_id") % 50 != 0), n=5)
    agg = (
        tsh.join(F.broadcast(bench), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("hit").alias("n_contaminated"),
        )
    )
    sink = _run_stream_to_sink(spark, agg, "sdecon", output_mode="update")
    return sink.select(
        "doc_id",
        "n_shingles",
        "n_contaminated",
        F.round(F.col("n_contaminated") / F.col("n_shingles"), 6).alias("contamination_frac"),
    ).orderBy("doc_id")


# identical result contract to the batch twin -> identical oracle
ORACLES["streaming_decontamination"] = ORACLES["decontamination_overlap"]


@query("streaming_sequence_packing", stage="streaming")
def streaming_sequence_packing_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of sequence_packing (10th streaming pattern):
    documents arrive as a stream and each md5 shard carries ONE long of
    state — its running token total — in ``applyInPandasWithState``;
    every doc is emitted exactly once (append) with its final
    (tok_offset, first_seq, n_seqs). Packing is arrival-order-defined;
    the bounded replay arrives in doc_id order, so the result equals
    the batch plan and shares its oracle. Cross-batch state carry is
    pinned separately by a 2-micro-batch replay test
    (tests/test_streaming_ops.py)."""
    from shifu_spark.streaming.ops import streaming_sequence_packing

    batch = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stream = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        # the _docs PRIMARY-KEY ingest contract, stream side
        .where(F.col("doc_id").isNotNull())
    )
    packed = streaming_sequence_packing(_packing_inputs(stream), budget=_PACK_BUDGET)
    sink = _run_stream_to_files(spark, packed, "spack")
    return sink.orderBy("doc_id")


# identical result contract to the batch twin -> identical oracle
ORACLES["streaming_sequence_packing"] = ORACLES["sequence_packing"]


def _synth_warc_payloads(docs: DataFrame) -> DataFrame:
    """payload(doc d) = a real per-record-gzip WARC file with two
    records: a response (uri http://{source}.example/doc/{d}, body =
    the doc text) and a metadata record (body 'lang: {lang}\\r\\n')."""
    from shifu_spark.sources.warc import encode_warc

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d, text, lang, source in zip(
                pdf["doc_id"], pdf["text"], pdf["lang"], pdf["source"]
            ):
                uri = f"http://{source}.example/doc/{int(d)}"
                payloads.append(
                    encode_warc(
                        [
                            ("response", uri, str(text).encode(), None),
                            ("metadata", uri, f"lang: {lang}\r\n".encode(), None),
                        ]
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return (
        _spread_doc_ids_cols(docs, ["doc_id", "text", "lang", "source"])
        .mapInPandas(gen, "doc_id long, payload binary")
    )


def _spread_doc_ids_cols(docs: DataFrame, cols: list[str]) -> DataFrame:
    """Multi-column variant of _spread_doc_ids (same single-file
    serialization rationale)."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    src_df = docs.select(*cols)
    if src_df.rdd.getNumPartitions() < par:
        src_df = src_df.repartition(par)
    return src_df


@query(
    "warc_extract_stats",
    """
SELECT doc_id,
  CAST(2 AS INT) AS n_records,
  'http://' || source || '.example/doc/' || doc_id AS uri,
  source || '.example' AS host,
  CAST(n_chars AS BIGINT) AS response_bytes,
  lang AS meta_lang
FROM documents ORDER BY doc_id
""",
    stage="multimodal",
)
def warc_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingest end-to-end: synthesize real per-record-gzip WARC
    files (the Common Crawl layout) -> walk gzip members -> parse
    WARC/1.0 header blocks + Content-Length bodies -> extract the
    response body size, target URI/host and the metadata record's lang
    tag. The oracle recomputes every field from the documents table
    directly, so a wrong member split, header parse, content-length or
    separator offset breaks the driver hash — archive ingest is proven,
    not plumbing-only (beyond-reference: the reference has no archive
    reader; this is the web-scale pretraining ingest path)."""
    from shifu_spark.sources.warc import parse_warc

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in
                   ("doc_id", "n_records", "uri", "host", "response_bytes", "meta_lang")}
            for d, payload in zip(pdf["doc_id"], pdf["payload"]):
                recs = parse_warc(bytes(payload))
                resp = next(r for r in recs if r["headers"]["WARC-Type"] == "response")
                meta = next(r for r in recs if r["headers"]["WARC-Type"] == "metadata")
                uri = resp["headers"]["WARC-Target-URI"]
                out["doc_id"].append(d)
                out["n_records"].append(len(recs))
                out["uri"].append(uri)
                out["host"].append(uri.split("/")[2])
                out["response_bytes"].append(len(resp["body"]))
                out["meta_lang"].append(
                    meta["body"].decode().partition(":")[2].strip()
                )
            yield pd.DataFrame(out)

    docs = _docs(spark, sf_dir)
    schema = ("doc_id long, n_records int, uri string, host string, "
              "response_bytes long, meta_lang string")
    return _synth_warc_payloads(docs).mapInPandas(run, schema).orderBy("doc_id")


@query(
    "warc_corrupt_recovery",
    """
SELECT doc_id,
  CAST(CASE WHEN doc_id % 5 IN (0, 2) THEN 1 ELSE 2 END AS INT) AS n_records,
  CAST(CASE WHEN doc_id % 5 = 0 THEN 0 ELSE 1 END AS INT) AS has_response,
  CAST(CASE WHEN doc_id % 5 = 2 THEN 0 ELSE 1 END AS INT) AS has_meta,
  CASE WHEN doc_id % 5 = 0 THEN NULL ELSE CAST(n_chars AS BIGINT) END AS response_bytes,
  CASE WHEN doc_id % 5 = 2 THEN NULL ELSE lang END AS meta_lang
FROM documents ORDER BY doc_id
""",
    stage="multimodal",
)
def warc_corrupt_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC member-level corruption RECOVERY, driver-proven: per-doc
    two-member archives with deterministic damage — doc_id%5==0 gets
    its response member replaced by a junk gzip member (magic intact,
    invalid deflate), %5==2 gets its metadata member truncated mid-
    stream — parsed with ``parse_warc(on_error='skip')``, which drops
    the corrupt member and RESYNCS at the next gzip magic. The oracle
    predicts exactly which record survives each damage class, so the
    hash proves the resync lands on the right member boundary and the
    healthy record's fields are intact (dirty-binaries audit, round
    10). This is the Common Crawl operational contract: one flipped
    bit costs one record, never the shard."""
    import gzip as _gzip

    from shifu_spark.sources.warc import parse_warc, write_warc_record

    _JUNK_MEMBER = b"\x1f\x8b\x08\x00" + b"\x00" * 16  # magic ok, deflate invalid

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d, text, lang, source in zip(
                pdf["doc_id"], pdf["text"], pdf["lang"], pdf["source"]
            ):
                uri = f"http://{source}.example/doc/{int(d)}"
                m_resp = _gzip.compress(
                    write_warc_record("response", uri, str(text).encode(), None), mtime=0
                )
                m_meta = _gzip.compress(
                    write_warc_record("metadata", uri, f"lang: {lang}\r\n".encode(), None),
                    mtime=0,
                )
                if int(d) % 5 == 0:
                    payloads.append(_JUNK_MEMBER + m_meta)
                elif int(d) % 5 == 2:
                    payloads.append(m_resp + m_meta[: len(m_meta) // 2])
                else:
                    payloads.append(m_resp + m_meta)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    def run(batches):
        import pandas as pd

        cols = ("doc_id", "n_records", "has_response", "has_meta",
                "response_bytes", "meta_lang")

        for pdf in batches:
            out = {k: [] for k in cols}
            for d, payload in zip(pdf["doc_id"], pdf["payload"]):
                recs = parse_warc(bytes(payload), on_error="skip")
                resp = next(
                    (r for r in recs if r["headers"]["WARC-Type"] == "response"), None
                )
                meta = next(
                    (r for r in recs if r["headers"]["WARC-Type"] == "metadata"), None
                )
                out["doc_id"].append(d)
                out["n_records"].append(len(recs))
                out["has_response"].append(int(resp is not None))
                out["has_meta"].append(int(meta is not None))
                out["response_bytes"].append(len(resp["body"]) if resp else None)
                out["meta_lang"].append(
                    meta["body"].decode().partition(":")[2].strip() if meta else None
                )
            yield pd.DataFrame(out)

    docs = _docs(spark, sf_dir)
    schema = ("doc_id long, n_records int, has_response int, has_meta int, "
              "response_bytes long, meta_lang string")
    return (
        _spread_doc_ids_cols(docs, ["doc_id", "text", "lang", "source"])
        .mapInPandas(gen, "doc_id long, payload binary")
        .mapInPandas(run, schema)
        .orderBy("doc_id")
    )


@query("dedup_rep_by_quality", stage="dedup")
def dedup_rep_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup representative selection — the production
    form of keep-one-per-cluster: instead of min doc_id, each near-dup
    group keeps its HIGHEST-QUALITY member (classifier score desc, doc
    id asc on rounded-6 score ties — exact dups score identically, so
    the tie rule is load-bearing and mirrored in the oracle). Composes
    the banded-LSH group resolution with the hashed-bucket classifier;
    the per-group window partitions by group_id (bounded by cluster
    size — scale-safe)."""
    from pyspark.sql import Window

    from shifu_spark.operators.dedup import dedup_groups_df, minhash_lsh_pairs_df
    from shifu_spark.operators.text import quality_classifier_df

    docs = _docs(spark, sf_dir)
    caches: list[DataFrame] = []
    pairs = minhash_lsh_pairs_df(docs, 3, threshold=0.5, cache_out=caches).select(
        "doc_a", "doc_b"
    )
    try:
        groups = dedup_groups_df(pairs)
    except BaseException:
        for c in caches:
            c.unpersist()
        raise
    groups = _materialize_release(groups, caches)
    sc = quality_classifier_df(docs).select("doc_id", "clf_score")
    j = groups.join(sc, "doc_id")
    # r12 (guide §2.4): the group size rides the SAME group_id window
    # shuffle as the rank — the r11 form derived j TWICE (two docs
    # scans through the classifier) for a separate groupBy + re-join,
    # three shuffles and a duplicated scan for a count the rank
    # partition already sees.  Identical output: count over the
    # unordered group partition is the full group size (long), exactly
    # the old agg value.
    w = Window.partitionBy("group_id").orderBy(F.desc("clf_score"), F.asc("doc_id"))
    wc = Window.partitionBy("group_id")
    return (
        j.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == 1)
        .select(
            "group_id",
            "n_members",
            F.col("doc_id").alias("rep_id"),
            F.col("clf_score").alias("rep_score"),
        )
        .orderBy("group_id")
    )


# Oracle: the dedup_groups CTE chain is REUSED BY CONSTRUCTION (string
# prefix up to its final SELECT), extended with the classifier-score
# CTE (same _QC_W_SQL/_QC_BIAS constants as quality_classifier_score's
# oracle — both oracles being green against the same Spark operator
# pins the formula) and the same rounded-score/doc-id window rule.
_DG_CTE_PREFIX = ORACLES["dedup_groups"].rsplit("SELECT src AS doc_id", 1)[0].rstrip()
if not _DG_CTE_PREFIX.endswith(")"):  # explicit raise: assert compiles out under -O
    raise RuntimeError("dedup_groups oracle shape changed; fix the CTE-prefix split")
ORACLES["dedup_rep_by_quality"] = (
    _DG_CTE_PREFIX
    + f""",
g AS (SELECT src AS doc_id, min(lbl) AS group_id FROM reach GROUP BY src),
qsc AS (
  SELECT doc_id,
         round(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
               + exp(-(CAST({_QC_BIAS} AS DOUBLE) + wsum / n_tokens))), 6) AS clf_score
  FROM (
    SELECT doc_id, len(toks) AS n_tokens,
           list_aggregate(list_transform(toks, x ->
             (list_value({_QC_W_SQL}))[strpos('0123456789abcdef', substr(md5(x), 1, 1))]
           ), 'sum') AS wsum
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))),
j AS (SELECT g.doc_id, g.group_id, qsc.clf_score FROM g JOIN qsc USING (doc_id)),
r AS (SELECT *, row_number() OVER (PARTITION BY group_id
        ORDER BY clf_score DESC, doc_id ASC) AS rn FROM j),
sizes AS (SELECT group_id, count(*) AS n_members FROM j GROUP BY group_id)
SELECT sizes.group_id, sizes.n_members, r.doc_id AS rep_id, r.clf_score AS rep_score
FROM sizes JOIN r ON sizes.group_id = r.group_id AND r.rn = 1
ORDER BY sizes.group_id
"""
)


def _synth_gif_payloads(docs: DataFrame) -> DataFrame:
    """payload(doc d) = real multi-frame GIF89a: nf=2+d%3 frames of
    (10+d%7) x (8+d%5), 64-color global palette with color i =
    ((i*3)%256, (i*5)%256, (i*7)%256), pixel index (f, p) =
    (d*11 + f*29 + p*3) % 64."""
    from shifu_spark.operators.multimodal import encode_gif

    def gen(batches):
        import numpy as np
        import pandas as pd

        i = np.arange(64, dtype=np.int64)
        pal = np.stack([(i * 3) % 256, (i * 5) % 256, (i * 7) % 256], 1).astype(np.uint8)
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                nf, w, h = 2 + d % 3, 10 + d % 7, 8 + d % 5
                f = np.arange(nf, dtype=np.int64)[:, None]
                p = np.arange(w * h, dtype=np.int64)[None, :]
                idx = ((d * 11 + f * 29 + p * 3) % 64).astype(np.uint8).reshape(nf, h, w)
                payloads.append(encode_gif(idx, pal))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return _spread_doc_ids(docs).mapInPandas(gen, "doc_id long, payload binary")


@query(
    "video_gif_features",
    """
WITH d AS (SELECT doc_id, 2 + doc_id % 3 AS nf, 10 + doc_id % 7 AS w,
                  8 + doc_id % 5 AS h FROM documents),
fr AS (SELECT doc_id, nf, w, h, unnest(range(0, nf)) AS f FROM d),
sampled AS (SELECT * FROM fr WHERE f % 2 = 0),
px AS (SELECT doc_id, nf, w, h, f, unnest(range(0, w*h)) AS p FROM sampled),
v AS (SELECT doc_id, nf, w, h, f, (doc_id*11 + f*29 + p*3) % 64 AS idx FROM px),
c AS (SELECT doc_id, nf, w, h, f,
             (idx*3) % 256 AS r, (idx*5) % 256 AS g, (idx*7) % 256 AS b FROM v)
SELECT doc_id,
  'gif' AS codec,
  CAST(max(w) AS INT) AS width,
  CAST(max(h) AS INT) AS height,
  CAST(max(nf) AS INT) AS n_frames,
  CAST(count(DISTINCT f) AS INT) AS n_sampled,
  CAST(sum(r + g + b) AS BIGINT) AS byte_sum,
  round(CAST(sum(r) AS DOUBLE) / (count(DISTINCT f) * max(w) * max(h)), 6) AS mean_y
FROM c GROUP BY doc_id ORDER BY doc_id
""",
    stage="multimodal",
)
def video_gif_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize→encode(REAL GIF89a: global color table + per-frame
    variable-width LZW in length-prefixed sub-blocks)→decode(LSB-first
    LZW with dictionary rebuild + KwKwK case, palette mapping)→
    frame-sample→stats. GIF is lossless, so the oracle is an exact
    closed form over the synthesized indices — a wrong code width
    schedule, sub-block split, palette stride or frame offset breaks
    the driver hash. Third compression family proven in the media lane
    (DCT+Huffman, DEFLATE, now LZW); multi-frame = the animation form
    (spec independence pinned by a hand-built byte stream in
    tests/test_multimodal_streaming.py::TestGifCodec)."""
    from shifu_spark.operators.multimodal import extract_gif_features

    docs = _docs(spark, sf_dir)
    return extract_gif_features(_synth_gif_payloads(docs), sample_every=2).orderBy("doc_id")


def _synth_wds_payloads(docs: DataFrame) -> DataFrame:
    """payload(doc d) = a webdataset tar shard with two samples:
    key 'a' -> a.txt (the doc text) + a.cls (lang); key 'b' ->
    b.txt (the source name) + b.cls ('und')."""
    from shifu_spark.sources.webdataset import encode_wds_shard

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for text, lang, source in zip(pdf["text"], pdf["lang"], pdf["source"]):
                payloads.append(
                    encode_wds_shard(
                        [
                            ("a", [("txt", str(text).encode()), ("cls", str(lang).encode())]),
                            ("b", [("txt", str(source).encode()), ("cls", b"und")]),
                        ]
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return (
        _spread_doc_ids_cols(docs, ["doc_id", "text", "lang", "source"])
        .mapInPandas(gen, "doc_id long, payload binary")
    )


@query(
    "wds_shard_stats",
    """
SELECT doc_id, 'a' AS sample_key, CAST(2 AS INT) AS n_parts,
       CAST(n_chars AS BIGINT) AS txt_bytes, lang AS cls
FROM documents
UNION ALL
SELECT doc_id, 'b', CAST(2 AS INT), CAST(length(source) AS BIGINT), 'und'
FROM documents
ORDER BY doc_id, sample_key
""",
    stage="multimodal",
)
def wds_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset shard ingest end-to-end: synthesize real tar shards
    (USTAR members named {key}.{ext}, samples contiguous), parse them
    back with the grouping/contiguity contract, and emit one row per
    SAMPLE with its part count, text payload size and class label. The
    oracle recomputes every field from the documents table, so a wrong
    member split, key grouping or payload read breaks the driver hash —
    this is the de-facto sharded-multimodal-training-data layout
    (beyond-reference ingest, same lane as WARC)."""
    from shifu_spark.sources.webdataset import parse_wds_shard

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in ("doc_id", "sample_key", "n_parts", "txt_bytes", "cls")}
            for d, payload in zip(pdf["doc_id"], pdf["payload"]):
                for key, parts in parse_wds_shard(bytes(payload)):
                    out["doc_id"].append(d)
                    out["sample_key"].append(key)
                    out["n_parts"].append(len(parts))
                    out["txt_bytes"].append(len(parts["txt"]))
                    out["cls"].append(parts["cls"].decode())
            yield pd.DataFrame(out)

    docs = _docs(spark, sf_dir)
    schema = "doc_id long, sample_key string, n_parts int, txt_bytes long, cls string"
    return (
        _synth_wds_payloads(docs)
        .mapInPandas(run, schema)
        .orderBy("doc_id", "sample_key")
    )


@query(
    "calibration_buckets",
    """
WITH s AS (
  SELECT cast(l_discount * 10 AS DECIMAL(38,10)) AS score,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem),
b AS (SELECT least(floor(score * 10), 9)::BIGINT AS bucket, score, y FROM s)
SELECT bucket,
  count(*) AS n,
  round(sum(score)::DOUBLE / count(*), 6) AS mean_score,
  round(sum(y)::DOUBLE / count(*), 6) AS pos_rate,
  round(abs(sum(score)::DOUBLE / count(*) - sum(y)::DOUBLE / count(*)), 6) AS calib_gap
FROM b GROUP BY bucket ORDER BY bucket
""",
    stage="eval",
)
def calibration_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / reliability table (the model-monitoring staple the
    eval family lacked): scores bucketed into 10 equal-width bins, per
    bin the mean predicted score vs the observed positive rate and
    their gap. Scores here are the exact-decimal l_discount*10 (pinned
    deterministic stand-in, same convention as the ROC family's
    l_extendedprice scores); sums run in DECIMAL so bucket means are
    partition-order independent. One groupBy — catalog-sized output."""
    li = _t(spark, sf_dir, "lineitem")
    s = li.select(
        (F.col("l_discount") * 10).cast("decimal(38,10)").alias("score"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    b = s.withColumn(
        "bucket", F.least(F.floor(F.col("score") * 10), F.lit(9)).cast("long")
    )
    n = F.count(F.lit(1))
    mean_s = F.sum("score").cast("double") / n
    pos = F.sum("y").cast("double") / n
    return (
        b.groupBy("bucket")
        .agg(
            n.alias("n"),
            F.round(mean_s, 6).alias("mean_score"),
            F.round(pos, 6).alias("pos_rate"),
            F.round(F.abs(mean_s - pos), 6).alias("calib_gap"),
        )
        .orderBy("bucket")
    )


@query(
    "brier_score",
    """
WITH s AS (
  SELECT cast(l_discount * 10 AS DECIMAL(38,10)) AS score,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem)
SELECT round(sum((score - y) * (score - y))::DOUBLE / count(*), 6) AS brier,
       CAST(count(*) AS BIGINT) AS n
FROM s
""",
    stage="eval",
)
def brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score (mean squared error of the probabilistic forecast)
    over the same pinned decimal scores as calibration_buckets — the
    squared residuals are exact decimals, so the sum is
    partition-order independent and the rounded mean is bit-identical
    cross-engine. One aggregate, one row."""
    li = _t(spark, sf_dir, "lineitem")
    s = li.select(
        (F.col("l_discount") * 10).cast("decimal(38,10)").alias("score"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    resid = F.col("score") - F.col("y")
    return s.agg(
        F.round((F.sum(resid * resid)).cast("double") / F.count(F.lit(1)), 6).alias("brier"),
        F.count(F.lit(1)).alias("n"),
    )


@query("corpus_curation_funnel", stage="dedup")
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE end-to-end pretraining-corpus curation pipeline as one
    cross-checked funnel — every LLM-data stage this engine implements,
    composed: benchmark split -> Gopher rules -> in-document repetition
    filter -> quality classifier -> exact dedup (canonical doc per
    content hash) -> near-dup resolution (keep each LSH group's
    best-quality rep) -> benchmark decontamination (5-gram overlap
    <= 0.5) -> per-source mixture sampling. Output: survivors after
    each cumulative stage.

    Semantics note: stage flags are computed on the FULL corpus and
    conjoined cumulatively (deterministic and oracle-mirrorable);
    a production run would sequence the stages so later ones see only
    survivors — same operators, cheaper inputs, but data-dependent
    intermediate corpora that a static oracle can't restate. Every
    flag reuses an operator whose standalone registry query is
    oracle-green, and the funnel oracle re-derives ALL of them
    relationally, so the composition itself is the thing proven here.

    Relation to the staged (production) form — proven by
    tests/test_funnel_staged.py against
    :func:`corpus_curation_funnel_staged`:

    * bench / gopher / repetition / classifier / mixture are PER-DOC
      pure functions, so they commute with sequencing: stages 0-4 (and
      the mixture predicate) are identical in both forms.
    * exact dedup commutes as long as every digest group that has
      stage-4 survivors keeps its full-corpus min-doc_id canonical
      among them. Gopher/repetition/classifier preserve this automatically
      (identical text => identical flags, so a digest group passes or
      fails together); only the doc_id-keyed benchmark split can break
      it, and the test asserts the no-cross-split precondition on the
      gate data before asserting stage-4 equality.
    * near-dup does NOT commute in general: restricting the pair graph
      to survivors can split LSH components, and a full-corpus rep
      that died upstream orphans its cluster in the flag form. What IS
      provable (and asserted as SET inclusion, not just counts): every
      flag-form survivor is a staged-form survivor at every stage — a
      full-corpus rep is its component's max-clf doc, hence also the
      max of its (sub)component among survivors, so sequencing only
      ever keeps MORE near-dup representatives, never fewer."""
    stages = _funnel_stages()
    # Materialize the SLIM boolean frame before the 8-way cumulative
    # aggregate: without the barrier Catalyst collapses each flag's full
    # expression tree into every conjunction sum, re-evaluating the
    # md5/aggregate-heavy flags up to 8x (measured 2x wall at sf1).
    # The cached frame is ~10 bytes/row — proportional to corpus rows
    # but minimal width, the standard trade for reuse-heavy finals.
    flags = _funnel_flags(spark, sf_dir).persist()
    try:
        one = flags.agg(
            *[F.sum(cond.cast("long")).alias(name) for name, cond in stages]
        )
        stack = ", ".join(f"'{name}', `{name}`" for name, _ in stages)
        out = (
            one.selectExpr(f"stack({len(stages)}, {stack}) as (stage, n)")
            .orderBy("stage")
        )
        return _materialize_release(out, [flags])
    except BaseException:
        flags.unpersist()
        raise


def _funnel_stages() -> list:
    """(stage name, cumulative flag-conjunction predicate) pairs.
    Flag order: benchmark split -> Gopher -> in-doc repetition ->
    classifier -> exact dedup -> near-dup rep -> decontamination ->
    mixture (the repetition stage joined the chain in round 5 when
    repetition_signals landed)."""
    flags = ["f_bench", "f_gopher", "f_rep", "f_clf", "f_exact", "f_neardup", "f_decon", "f_mix"]
    names = [
        "1_not_benchmark", "2_gopher", "3_repetition", "4_classifier",
        "5_exact_dedup", "6_near_dedup", "7_decontaminated", "8_mixture_sampled",
    ]
    out = [("0_total", F.lit(True))]
    acc = None
    for name, flag in zip(names, flags):
        acc = F.col(flag) if acc is None else acc & F.col(flag)
        out.append((name, acc))
    return out


def _funnel_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc stage flags over the FULL corpus (the flag-conjunction
    funnel form) — shared by the registered query and the staged-form
    equivalence tests."""
    from pyspark.sql import Window

    from shifu_spark.operators.dedup import dedup_groups_df, minhash_lsh_pairs_df, shingles_df
    from shifu_spark.operators.purify import _hash_key, _hex_threshold
    from shifu_spark.operators.text import (
        dup_frac_expr,
        gopher_keep_expr,
        ngram_array_expr,
        quality_clf_score_expr,
    )

    docs = _docs(spark, sf_dir)
    base = docs.select("doc_id", "source", "text")

    # the three per-doc text signals fold into ONE projection over one
    # corpus scan (the composable Column builders); only the stages
    # that genuinely need shuffles (exact digest window, LSH pairs,
    # shingle join) read the corpus again. The repetition threshold is
    # corpus-tuned tighter than the standalone query's 0.30 Gopher
    # default: this synthetic corpus tops out at dup_frac ~0.07, so
    # 0.02 makes the stage provably bite at gate scale.
    score = quality_clf_score_expr()
    text_sig = docs.select(
        "doc_id",
        F.split("text", " ").alias("toks"),
        ngram_array_expr("text").alias("grams"),
    ).select(
        "doc_id",
        gopher_keep_expr().alias("f_gopher"),
        (dup_frac_expr() <= 0.02).alias("f_rep"),
        F.round(score, 6).alias("clf_score"),
        (score >= 0.5).alias("f_clf"),
    )
    c = text_sig.select("doc_id", "f_clf", "clf_score")
    exact = base.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("digest")
    ).withColumn(
        "f_exact",
        F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("digest")),
    ).select("doc_id", "f_exact")

    caches: list[DataFrame] = []
    pairs = minhash_lsh_pairs_df(docs, 3, threshold=0.5, cache_out=caches).select(
        "doc_a", "doc_b"
    )
    try:
        groups = dedup_groups_df(pairs)
    except BaseException:
        for cc in caches:
            cc.unpersist()
        raise
    groups = _materialize_release(groups, caches)
    gw = Window.partitionBy("group_id").orderBy(F.desc("clf_score"), F.asc("doc_id"))
    grouped = groups.join(c.select("doc_id", "clf_score"), "doc_id").withColumn(
        "is_rep", F.row_number().over(gw) == 1
    )
    nd = grouped.select("doc_id", F.col("is_rep").alias("f_neardup"))

    sh = shingles_df(docs, n=5)
    bench_sh = (
        sh.filter(F.col("doc_id") % 50 == 0).select("shingle").distinct()
        .withColumn("hit", F.lit(1))
    )
    decon = (
        sh.join(F.broadcast(bench_sh), "shingle", "left")
        .groupBy("doc_id")
        .agg((F.count("hit") / F.count(F.lit(1))).alias("frac"))
        .select("doc_id", (F.col("frac") <= 0.5).alias("f_decon"))
    )

    whens = " ".join(f"WHEN {b} THEN '{_hex_threshold(b / 10)}'" for b in range(1, 10))
    mix = base.select(
        "doc_id",
        (
            _hash_key(["doc_id"], "mix")
            < F.expr(
                f"CASE (CAST(substring(source, 4) AS INT) * 7) % 9 + 1 {whens} END"
            )
        ).alias("f_mix"),
    )

    return (
        base.select("doc_id", (F.col("doc_id") % 50 != 0).alias("f_bench"))
        .join(text_sig.select("doc_id", "f_gopher", "f_rep", "f_clf"), "doc_id")
        .join(exact, "doc_id")
        .join(nd, "doc_id", "left")
        # left: a NULL-text doc has no shingles, so it is absent from the
        # decon relation — nothing to contaminate, not a dropped doc
        .join(decon, "doc_id", "left")
        .join(mix, "doc_id")
        .withColumn("f_neardup", F.coalesce("f_neardup", F.lit(True)))
        .withColumn("f_decon", F.coalesce("f_decon", F.lit(True)))
    )


def _funnel_oracle() -> str:
    """Composed relational mirror of the curation funnel. Reuses the
    dedup_groups CTE chain by construction and restates the gopher /
    classifier / decontamination / mixture formulas from the SAME
    module constants their standalone (green) oracles use — the
    reps ranking uses round(score, 6) exactly as the Spark side ranks
    the rounded classifier column, while the keep flag compares the
    UNROUNDED score, mirroring quality_classifier_df."""
    from shifu_spark.operators.purify import _hex_threshold

    mix_whens = " ".join(f"WHEN {b} THEN '{_hex_threshold(b / 10)}'" for b in range(1, 10))
    return f"""{_DG_CTE_PREFIX},
g AS (SELECT src AS doc_id, min(lbl) AS group_id FROM reach GROUP BY src),
gt AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
qsc AS (
  SELECT doc_id, CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
         + exp(-(CAST({_QC_BIAS} AS DOUBLE) + wsum / n_tokens))) AS score
  FROM (
    SELECT doc_id, len(toks) AS n_tokens,
           list_aggregate(list_transform(toks, x ->
             (list_value({_QC_W_SQL}))[strpos('0123456789abcdef', substr(md5(x), 1, 1))]
           ), 'sum') AS wsum FROM gt)),
reps AS (
  SELECT doc_id FROM (
    SELECT g.doc_id, row_number() OVER (PARTITION BY group_id
           ORDER BY round(score, 6) DESC, doc_id ASC) AS rn
    FROM g JOIN qsc USING (doc_id)) WHERE rn = 1),
gbase AS (
  SELECT doc_id, len(toks) AS gn,
         list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS gsum_len,
         len(list_filter(toks, x -> list_contains([{_GQ_STOP_SQL}], x))) AS gn_stop
  FROM gt),
gbg AS (
  SELECT doc_id, gg2, count(*) AS c FROM (
    SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
           i -> toks[i] || ' ' || toks[i+1])) AS gg2 FROM gt) GROUP BY doc_id, gg2),
gtop AS (SELECT doc_id, max(c) AS top_c FROM gbg GROUP BY doc_id),
rep3 AS (
  SELECT doc_id, CASE WHEN toks IS NULL THEN NULL ELSE
                 list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                 i -> array_to_string(toks[i:i+2], ' ')) END AS grams
  FROM gt),
repf AS (
  SELECT doc_id,
         (1.0::DOUBLE - len(list_distinct(grams)) / len(grams)) <= CAST(0.02 AS DOUBLE) AS f_rep
  FROM rep3),
exact_f AS (
  SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS f_exact
  FROM documents),
sh5 AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(toks) - 4, 1) + 1),
                 i -> array_to_string(toks[i:i+4], ' ')))) AS s
  FROM gt),
bench5 AS (SELECT DISTINCT s FROM sh5 WHERE doc_id % 50 = 0),
dec AS (
  SELECT sh5.doc_id,
         (count(bench5.s)::DOUBLE / count(*)) <= CAST(0.5 AS DOUBLE) AS f_decon
  FROM sh5 LEFT JOIN bench5 ON sh5.s = bench5.s GROUP BY sh5.doc_id),
mixf AS (
  SELECT doc_id,
         md5('mix' || '|' || doc_id)
           < (CASE (CAST(substr(source, 4) AS INT) * 7) % 9 + 1 {mix_whens} END) AS f_mix
  FROM documents),
flags AS (
  SELECT d.doc_id,
    d.doc_id % 50 <> 0 AS f_bench,
    (gbase.gn BETWEEN 10 AND 100000
     AND gbase.gsum_len / gbase.gn >= CAST(2.0 AS DOUBLE)
     AND gbase.gsum_len / gbase.gn <= CAST(10.0 AS DOUBLE)
     AND gtop.top_c / greatest(gbase.gn - 1, 1) <= CAST(0.20 AS DOUBLE)
     AND gbase.gn_stop >= 2) AS f_gopher,
    repf.f_rep,
    qsc.score >= CAST(0.5 AS DOUBLE) AS f_clf,
    exact_f.f_exact,
    (g.doc_id IS NULL OR reps.doc_id IS NOT NULL) AS f_neardup,
    coalesce(dec.f_decon, TRUE) AS f_decon,  -- no shingles (NULL text) => nothing to contaminate
    mixf.f_mix
  FROM documents d
  JOIN gbase USING (doc_id) JOIN gtop USING (doc_id) JOIN repf USING (doc_id)
  JOIN qsc USING (doc_id)
  JOIN exact_f USING (doc_id) JOIN mixf USING (doc_id)
  LEFT JOIN dec ON d.doc_id = dec.doc_id
  LEFT JOIN g ON d.doc_id = g.doc_id LEFT JOIN reps ON d.doc_id = reps.doc_id)
SELECT '0_total' AS stage, count(*)::BIGINT AS n FROM flags
UNION ALL SELECT '1_not_benchmark', count(*) FILTER (WHERE f_bench)::BIGINT FROM flags
UNION ALL SELECT '2_gopher', count(*) FILTER (WHERE f_bench AND f_gopher)::BIGINT FROM flags
UNION ALL SELECT '3_repetition', count(*) FILTER (WHERE f_bench AND f_gopher AND f_rep)::BIGINT FROM flags
UNION ALL SELECT '4_classifier', count(*) FILTER (WHERE f_bench AND f_gopher AND f_rep AND f_clf)::BIGINT FROM flags
UNION ALL SELECT '5_exact_dedup', count(*) FILTER (WHERE f_bench AND f_gopher AND f_rep AND f_clf AND f_exact)::BIGINT FROM flags
UNION ALL SELECT '6_near_dedup', count(*) FILTER (WHERE f_bench AND f_gopher AND f_rep AND f_clf AND f_exact AND f_neardup)::BIGINT FROM flags
UNION ALL SELECT '7_decontaminated', count(*) FILTER (WHERE f_bench AND f_gopher AND f_rep AND f_clf AND f_exact AND f_neardup AND f_decon)::BIGINT FROM flags
UNION ALL SELECT '8_mixture_sampled', count(*) FILTER (WHERE f_bench AND f_gopher AND f_rep AND f_clf AND f_exact AND f_neardup AND f_decon AND f_mix)::BIGINT FROM flags
ORDER BY stage
"""


ORACLES["corpus_curation_funnel"] = _funnel_oracle()


def corpus_curation_funnel_staged(
    spark: SparkSession, sf_dir: str
) -> dict[str, DataFrame]:
    """The PRODUCTION-sequenced curation funnel: each stage recomputes
    on the previous stage's survivors (near-dup groups and the exact
    canonical doc are re-derived over the shrinking corpus), exactly as
    a real pipeline would run it. Returns ``{stage: DataFrame[doc_id]}``
    so tests can assert SET relations against the flag-conjunction form
    of :func:`corpus_curation_funnel`, not just counts (see that
    docstring for the commutation argument). The decontamination
    reference set is the FULL corpus's benchmark slice in both forms —
    the eval suite is fixed, not a function of curation survivors."""
    from pyspark.sql import Window

    from shifu_spark.operators.dedup import (
        dedup_groups_df,
        minhash_lsh_pairs_df,
        shingles_df,
    )
    from shifu_spark.operators.purify import _hash_key, _hex_threshold
    from shifu_spark.operators.text import (
        gopher_quality_df,
        quality_classifier_df,
        repetition_signals_df,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "source", "text")
    out: dict[str, DataFrame] = {"0_total": docs.select("doc_id")}

    s1 = docs.filter(F.col("doc_id") % 50 != 0)
    out["1_not_benchmark"] = s1.select("doc_id")

    s2 = s1.join(
        gopher_quality_df(s1).filter("keep").select("doc_id"), "doc_id"
    )
    out["2_gopher"] = s2.select("doc_id")

    s2r = s2.join(
        repetition_signals_df(s2, max_dup_frac=0.02).filter("keep").select("doc_id"),
        "doc_id",
    )
    out["3_repetition"] = s2r.select("doc_id")

    clf = quality_classifier_df(s2r).select("doc_id", "clf_score", "keep")
    s3 = s2r.join(clf.filter("keep").select("doc_id", "clf_score"), "doc_id")
    out["4_classifier"] = s3.select("doc_id")

    s4 = (
        s3.withColumn("digest", F.md5(F.col("text").cast("binary")))
        .withColumn(
            "is_min",
            F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("digest")),
        )
        .filter("is_min")
        .drop("digest", "is_min")
    )
    out["5_exact_dedup"] = s4.select("doc_id")

    caches: list[DataFrame] = []
    pairs = minhash_lsh_pairs_df(s4, 3, threshold=0.5, cache_out=caches).select(
        "doc_a", "doc_b"
    )
    try:
        groups = dedup_groups_df(pairs)
    except BaseException:
        for cc in caches:
            cc.unpersist()
        raise
    groups = _materialize_release(groups, caches)
    gw = Window.partitionBy("group_id").orderBy(F.desc("clf_score"), F.asc("doc_id"))
    reps = (
        groups.join(s4.select("doc_id", "clf_score"), "doc_id")
        .withColumn("rn", F.row_number().over(gw))
        .filter(F.col("rn") == 1)
        .select("doc_id")
    )
    s5 = s4.join(groups.select("doc_id"), "doc_id", "left_anti").unionByName(
        s4.join(reps, "doc_id")
    )
    out["6_near_dedup"] = s5.select("doc_id")

    # fixed eval-suite reference: the FULL corpus's benchmark slice
    bench_sh = (
        shingles_df(docs, n=5)
        .filter(F.col("doc_id") % 50 == 0)
        .select("shingle")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    frac = (
        shingles_df(s5, n=5)
        .join(F.broadcast(bench_sh), "shingle", "left")
        .groupBy("doc_id")
        .agg((F.count("hit") / F.count(F.lit(1))).alias("frac"))
    )
    s6 = s5.join(frac.filter(F.col("frac") <= 0.5).select("doc_id"), "doc_id")
    out["7_decontaminated"] = s6.select("doc_id")

    whens = " ".join(f"WHEN {b} THEN '{_hex_threshold(b / 10)}'" for b in range(1, 10))
    s7 = s6.filter(
        _hash_key(["doc_id"], "mix")
        < F.expr(f"CASE (CAST(substring(source, 4) AS INT) * 7) % 9 + 1 {whens} END")
    )
    out["8_mixture_sampled"] = s7.select("doc_id")
    return out


# ---------------------------------------------------------------------------
# Round 6: language mixture, as-of join, TPC-H Q3, context-length
# histogram, Poisson bootstrap, mixture weights, semantic dedup, BPE
# ---------------------------------------------------------------------------

# deterministic code-switch augmentation (the corpus is English-only, so
# es/fr/de marker mixtures are injected from doc_id — same CASE string
# on both engines; the pii_redaction codec-synth pattern)
_LM_CASE_SQL = (
    "CASE doc_id % 4 WHEN 0 THEN ' el la que' WHEN 1 THEN ' le et les' "
    "WHEN 2 THEN ' der die el' ELSE '' END"
)


def _lang_mixture_oracle() -> str:
    from shifu_spark.operators.text import LANG_MARKERS

    cnt = {
        lang: f"len(list_filter(toks, x -> list_contains([{', '.join(repr(w) for w in sorted(vocab))}], x)))::INT"
        for lang, vocab in sorted(LANG_MARKERS.items())
    }
    cnts = ",\n  ".join(f"{e} AS c_{lang}" for lang, e in cnt.items())
    tot = " + ".join(f"c_{lang}" for lang in sorted(cnt))
    mx = f"greatest({', '.join('c_' + lang for lang in sorted(cnt))})"
    fracs = ",\n  ".join(
        f"round(CASE WHEN tot > 0 THEN c_{lang} / CAST(tot AS DOUBLE) ELSE 0.0 END, 6) AS frac_{lang}"
        for lang in sorted(cnt)
    )
    # the Spark loop processes languages DESC with strict '>', so an
    # exact tie keeps the earlier-processed (lexicographically larger)
    # language — mirror with a desc-ordered CASE over the argmax set
    top = " ".join(
        f"WHEN c_{lang} = mx THEN '{lang}'" for lang in sorted(cnt, reverse=True)
    )
    return f"""
WITH aug AS (SELECT doc_id, lower(text || {_LM_CASE_SQL}) AS t FROM documents),
tk AS (SELECT doc_id, string_split(t, ' ') AS toks FROM aug),
c AS (SELECT doc_id,
  {cnts}
FROM tk),
m AS (SELECT *, {tot} AS tot, {mx} AS mx FROM c)
SELECT doc_id,
  tot::INT AS n_marker_hits,
  {fracs},
  CASE WHEN coalesce(tot, 0) = 0 THEN 'und' {top} END AS top_lang,  -- NULL text: hits are NULL, not 0
  round(CASE WHEN tot > 0 THEN mx / CAST(tot AS DOUBLE) ELSE 0.0 END, 6) AS purity
FROM m ORDER BY doc_id
"""


@query("lang_mixture", stage="text")
def lang_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document language-MIXTURE fractions + dominant-language purity
    (operators/text.lang_mixture_df) — the multilingual-contamination
    detector the argmax lang-ID can't see: a 60/40 code-switched doc
    looks monolingual to argmax but pollutes monolingual training mixes.
    All in-row expressions over one scan, zero shuffle; code-switch
    suffixes are injected deterministically from doc_id (the corpus is
    English-only)."""
    from shifu_spark.operators.text import lang_mixture_df

    docs = _docs(spark, sf_dir)
    aug = docs.select(
        "doc_id", F.concat(F.col("text"), F.expr(_LM_CASE_SQL)).alias("text")
    )
    return lang_mixture_df(aug).orderBy("doc_id")


ORACLES["lang_mixture"] = _lang_mixture_oracle()


@query(
    "asof_attribution_join",
    """
WITH p AS (SELECT event_id AS purchase_id, user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, event_id AS click_id, ts AS click_ts FROM events WHERE event_type = 'click')
SELECT p.purchase_id, p.user_id,
  epoch_us(p.ts) AS ts_us,
  c.click_id,
  epoch_us(c.click_ts) AS click_ts_us,
  epoch_us(p.ts) - epoch_us(c.click_ts) AS gap_us
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.click_ts <= p.ts
ORDER BY p.purchase_id
""",
    stage="query",
)
def asof_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (operators/join.asof_join): every purchase event gets
    the most recent click by the same user at-or-before its timestamp —
    the point-in-time attribution / feature-lookup join Spark has no
    built-in for. Spark-first: union-tag + ONE per-user window carrying
    last(payload, ignorenulls) — a single hash exchange, no per-row
    subqueries, no range cross join. The oracle is DuckDB's NATIVE
    ASOF LEFT JOIN — an independent second implementation of the
    semantics. (user_id, ts) pairs are unique in this corpus; tie_cols
    pins determinism anyway."""
    from shifu_spark.operators.join import asof_join

    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    j = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="click_ts",
        right_payload=["click_id", "click_ts"],
        tie_cols=["click_id"],
    )
    return j.select(
        "purchase_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.col("asof_click_id").alias("click_id"),
        F.unix_micros("asof_click_ts").alias("click_ts_us"),
        (F.unix_micros("ts") - F.unix_micros("asof_click_ts")).alias("gap_us"),
    ).orderBy("purchase_id")


@query(
    "tpch_q3_shipping_priority",
    """
SELECT l_orderkey,
  round(sum(cast(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10)))::DOUBLE, 4) AS revenue,
  epoch_us(o_orderdate) AS o_orderdate_us,
  0::INT AS o_shippriority
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate_us, l_orderkey LIMIT 10
""",
    stage="query",
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): the canonical selective
    3-way join → agg → top-k. Spark-first shape: the customer side is
    segment-filtered THEN broadcast (catalog-scale after the filter), so
    the only data-scale shuffle is the final l_orderkey aggregation;
    the date filters push into both parquet scans, and the top-10 is
    TakeOrderedAndProject (no global sort materialization). The schema
    has no o_shippriority column, so it is carried as the literal 0 the
    TPC-H generator emits. Revenue sums in DECIMAL(38,10) for
    partition-order independence."""
    cutoff = F.lit("1997-01-01").cast("timestamp")
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(F.sum(rev.cast("decimal(38,10)")).cast("double"), 4).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("o_orderdate_us"),
            F.lit(0).alias("o_shippriority"),
        )
        .orderBy(F.desc("revenue"), "o_orderdate_us", "l_orderkey")
        .limit(10)
    )


@query(
    "doc_length_histogram",
    """
WITH t AS (SELECT source, len(string_split(text, ' ')) AS n_tokens FROM documents),
b AS (SELECT source, n_tokens,
  CASE WHEN n_tokens < 16 THEN 0 WHEN n_tokens < 32 THEN 1 WHEN n_tokens < 64 THEN 2
       WHEN n_tokens < 128 THEN 3 WHEN n_tokens < 256 THEN 4 WHEN n_tokens < 512 THEN 5
       WHEN n_tokens < 1024 THEN 6 ELSE 7 END AS bucket
  FROM t)
SELECT source, bucket::INT AS bucket,
  count(*)::BIGINT AS n_docs,
  sum(n_tokens)::BIGINT AS n_tokens,
  min(n_tokens)::INT AS min_tokens,
  max(n_tokens)::INT AS max_tokens
FROM b GROUP BY source, bucket ORDER BY source, bucket
""",
    stage="text",
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length planning histogram: per-source doc counts and token
    mass in power-of-two token-length buckets (<16, <32, ..., >=1024) —
    the sizing input for sequence_packing / curriculum bucketing (how
    much of each source survives a context-length cut, how much padding
    a given max_len costs). Exact integer CASE bucketing (no
    transcendental log2 — engine-portable); one narrow scan + one
    catalog-sized groupBy."""
    docs = _docs(spark, sf_dir)
    n = F.size(F.split(F.col("text"), " "))
    bucket = (
        F.when(n < 16, 0).when(n < 32, 1).when(n < 64, 2).when(n < 128, 3)
        .when(n < 256, 4).when(n < 512, 5).when(n < 1024, 6).otherwise(7)
    )
    return (
        docs.select("source", n.alias("n_tokens"), bucket.alias("bucket"))
        .groupBy("source", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .orderBy("source", "bucket")
    )


def _poisson_bootstrap_oracle() -> str:
    from shifu_spark.operators.purify import _hex_threshold, poisson_pmf_cumsums

    terms = " + ".join(
        f"CASE WHEN md5('bag' || '|' || l_orderkey || '|' || l_linenumber) >= '{_hex_threshold(c)}' THEN 1 ELSE 0 END"
        for c in poisson_pmf_cumsums(1.0, 6)
    )
    return f"""
WITH k AS (SELECT ({terms}) AS copies FROM lineitem)
SELECT copies::INT AS copies, count(*)::BIGINT AS n_rows,
  (copies * count(*))::BIGINT AS n_resampled
FROM k GROUP BY copies ORDER BY copies
"""


@query("poisson_bootstrap_sample", stage="stats")
def poisson_bootstrap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed bootstrap / bagging resample
    (operators/purify.poisson_copies_expr): per-row Poisson(1) copy
    counts — the standard at-scale form of sampling-with-replacement
    (a global n-draw bootstrap needs a global row index; iid Poisson
    counts converge to the same bag and need only row content). The
    count is content-keyed md5-threshold arithmetic, so the bag is
    identical across reruns, partitionings and engines — that is what
    makes bagged-model training reproducible. Reported as the copy-count
    histogram (≈ Poisson(1) pmf) + resampled row mass; materialize the
    bag with explode(sequence(1, copies))."""
    from shifu_spark.operators.purify import poisson_copies_expr

    li = _t(spark, sf_dir, "lineitem")
    copies = poisson_copies_expr(["l_orderkey", "l_linenumber"], lam=1.0, salt="bag")
    return (
        li.select(copies.alias("copies"))
        .groupBy("copies")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            "copies",
            "n_rows",
            (F.col("copies").cast("long") * F.col("n_rows")).alias("n_resampled"),
        )
        .orderBy("copies")
    )


ORACLES["poisson_bootstrap_sample"] = _poisson_bootstrap_oracle()


@query(
    "mixture_weights_by_source",
    f"""
WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
q AS (
  SELECT doc_id, source, round(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
         + exp(-(CAST({{qc_bias}} AS DOUBLE) + wsum / n_tokens))), 6) AS s6
  FROM (
    SELECT doc_id, source, len(toks) AS n_tokens,
           list_aggregate(list_transform(toks, x ->
             (list_value({{qc_w}}))[strpos('0123456789abcdef', substr(md5(x), 1, 1))]
           ), 'sum') AS wsum FROM t)),
agg AS (
  SELECT source, count(*) AS n_docs,
         round(CAST(sum(CAST(s6 AS DECIMAL(38,10))) AS DOUBLE) / count(*), 6) AS mean_score
  FROM q GROUP BY source),
w AS (
  SELECT source, n_docs, mean_score,
         CAST(sqrt(CAST(n_docs AS DOUBLE)) * mean_score AS DECIMAL(38,10)) AS wdec
  FROM agg)
SELECT source, n_docs::BIGINT AS n_docs, mean_score,
  round(CAST(wdec AS DOUBLE) / CAST(sum(wdec) OVER () AS DOUBLE), 6) AS weight
FROM w ORDER BY source
""".format(qc_bias=_QC_BIAS, qc_w=_QC_W_SQL),
    stage="text",
)
def mixture_weights_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining mixture-weight assignment (the DoReMi-lite /
    temperature-sampling knob): per-source doc counts and mean quality
    score fold into a normalized sampling weight
    w_s ∝ sqrt(n_s)·quality_s — sqrt is the classic temperature=0.5
    upweighting of small high-quality sources, and both factors are
    single-IEEE-op deterministic (sqrt of an exact int; one multiply).
    Per-doc scores round to 6 then sum in DECIMAL(38,10)
    (partition-order independence); the normalizer is a window sum over
    the catalog-sized source rollup — the output feeds
    source_mixture_sample's per-source rates."""
    from pyspark.sql import Window

    from shifu_spark.operators.text import quality_clf_score_expr

    docs = _docs(spark, sf_dir)
    d = docs.select("source", F.split(F.col("text"), " ").alias("toks"))
    per = d.select("source", F.round(quality_clf_score_expr(), 6).alias("s6"))
    agg = per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.sum(F.col("s6").cast("decimal(38,10)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_score"),
    )
    w = agg.withColumn(
        "wdec",
        (F.sqrt(F.col("n_docs").cast("double")) * F.col("mean_score")).cast(
            "decimal(38,10)"
        ),
    )
    total = F.sum("wdec").over(Window.partitionBy())
    return w.select(
        "source",
        "n_docs",
        "mean_score",
        F.round(F.col("wdec").cast("double") / total.cast("double"), 6).alias("weight"),
    ).orderBy("source")


@query(
    "semantic_dedup",
    """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS vnorm
  FROM embeddings
),
cents AS (SELECT vec_id AS cid, v AS cvec, vnorm AS cnorm FROM e WHERE vec_id < 8),
scored AS (
  SELECT e.vec_id, e.v, e.vnorm, c.cid,
         list_dot_product(e.v, c.cvec) / (e.vnorm * c.cnorm) AS ccos
  FROM e CROSS JOIN cents c
),
cells AS (
  SELECT vec_id, v, vnorm, cid AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn
    FROM scored) WHERE rn = 1
),
drops AS (
  SELECT DISTINCT b.vec_id
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v) / (a.vnorm * b.vnorm) >= CAST(0.35 AS DOUBLE)
)
SELECT c.vec_id, c.cell, (d.vec_id IS NULL) AS keep
FROM cells c LEFT JOIN drops d ON c.vec_id = d.vec_id
ORDER BY c.vec_id
""",
    stage="similarity",
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/similarity.semantic_dedup_df): embedding-space
    near-duplicate pruning — IVF-cell clustering (seed-vector centroids,
    vec_id < 8, the oracle-deterministic quantizer) then keep-first
    cosine dedup WITHIN cells at threshold 0.35 (drops ~15% of this
    corpus). The within-cell self-join is the SemDeDup scale contract:
    k scales with N so the quadratic only ever sees one cell."""
    from shifu_spark.operators.similarity import semantic_dedup_df

    emb = _emb(spark, sf_dir)
    caches: list[DataFrame] = []
    out = semantic_dedup_df(
        emb, F.col("vec_id") < 8, threshold=0.35, cache_out=caches
    ).orderBy("vec_id")
    return _materialize_release(out, caches)


def _bpe_oracle() -> str:
    from shifu_spark.operators.bpe import EOW, bpe_pinned_merges

    merges = bpe_pinned_merges()
    mk = (
        "MAP(["
        + ",".join(f"'{a}|{b}'" for a, b in merges)
        + "],["
        + ",".join(str(i) for i in range(len(merges)))
        + "])"
    )
    return f"""
WITH RECURSIVE
aug AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
w AS (
  SELECT doc_id, wi,
         list_concat(list_filter(string_split(words[wi], ''), x -> x <> ''), ['{EOW}']) AS syms
  FROM aug, unnest(range(1, len(words) + 1)) AS t(wi)
),
rec AS (
  SELECT doc_id, wi, syms, 0 AS it FROM w
  UNION ALL
  SELECT doc_id, wi,
         syms[1:bi-1] || [syms[bi] || syms[bi+1]] || syms[bi+2:], it + 1
  FROM (
    SELECT doc_id, wi, syms, it, list_min(pr) AS mr, list_position(pr, list_min(pr)) AS bi
    FROM (
      SELECT doc_id, wi, syms, it,
             list_transform(range(1, len(syms)),
               i -> coalesce(map_extract({mk}, syms[i] || '|' || syms[i+1])[1], 1000000)) AS pr
      FROM rec WHERE len(syms) > 1
    )
  ) WHERE mr < 1000000
),
fin AS (
  SELECT doc_id, wi, syms FROM (
    SELECT doc_id, wi, syms, row_number() OVER (PARTITION BY doc_id, wi ORDER BY it DESC) AS rn
    FROM rec) WHERE rn = 1
),
agg AS (SELECT doc_id, flatten(list(syms ORDER BY wi)) AS pieces FROM fin GROUP BY doc_id)
SELECT a.doc_id, len(g.words)::INT AS n_words, len(a.pieces)::INT AS n_pieces,
       md5(array_to_string(a.pieces, chr(31))) AS pieces_digest
FROM agg a JOIN aug g USING (doc_id) ORDER BY a.doc_id
"""


@query("bpe_tokenize", stage="text")
def bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenization (operators/bpe.bpe_encode_df): the
    pinned merge table (PQ-codebook pattern) broadcast into an
    Arrow-batched mapInPandas — the per-word merge loop is genuinely
    iterative, the documented Pandas-UDF case. One narrow corpus pass,
    no shuffle; pieces are proven byte-for-byte via an md5 digest
    (unit-separator-joined). The ORACLE is a DuckDB RECURSIVE CTE that
    re-runs the merge loop from the rank map independently (the
    ADPCM-oracle pattern: a genuine second implementation, not a
    restatement), so the encode semantics — lowest-rank-first, leftmost
    at equal rank, EOW handling — are cross-checked end to end."""
    from shifu_spark.operators.bpe import bpe_encode_df, bpe_pinned_merges

    docs = _docs(spark, sf_dir)
    enc = bpe_encode_df(docs, bpe_pinned_merges())
    return enc.select(
        "doc_id",
        "n_words",
        "n_pieces",
        F.md5(F.concat_ws("\x1f", "pieces").cast("binary")).alias("pieces_digest"),
    ).orderBy("doc_id")


ORACLES["bpe_tokenize"] = _bpe_oracle()


@query(
    "streaming_asof_attribution",
    """
WITH p AS (SELECT event_id AS purchase_id, user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, event_id AS click_id, ts AS click_ts FROM events WHERE event_type = 'click')
SELECT p.user_id, p.purchase_id, epoch_us(p.ts) AS ts_us,
  c.click_id, epoch_us(c.click_ts) AS click_ts_us
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.click_ts <= p.ts
ORDER BY p.purchase_id
""",
    stage="streaming",
)
def streaming_asof_attribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming AS-OF join (12th streaming pattern;
    streaming/ops.streaming_asof_attribution): per-user state is the
    MINIMAL as-of carry — one (latest-click ts, id) pair — and each
    purchase emits the match exactly once (append mode). The bounded
    availableNow replay equals the batch asof_join / DuckDB native
    ASOF oracle; cross-batch state carry is pinned by a 2-batch
    event-time-ordered replay in tests/test_streaming_ops.py."""
    from shifu_spark.streaming.ops import streaming_asof_attribution

    s = _events_stream(spark, sf_dir).select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    sink = _run_stream_to_files(spark, streaming_asof_attribution(s), "asof")
    return sink.orderBy("purchase_id")


_H_BITS, _H_BUCKET_SHIFT = 8, 10


def _hilbert_oracle() -> str:
    lv = (1 << _H_BITS) - 1
    return f"""
WITH RECURSIVE
mm AS (SELECT min(l_quantity) FILTER (WHERE isfinite(l_quantity)) AS mnq,
              max(l_quantity) FILTER (WHERE isfinite(l_quantity)) AS mxq,
              min(l_extendedprice) FILTER (WHERE isfinite(l_extendedprice)) AS mnp,
              max(l_extendedprice) FILTER (WHERE isfinite(l_extendedprice)) AS mxp
       FROM lineitem),
r AS (  -- missing values rank NULL: the NULL hkey is their own layout group
  SELECT CASE WHEN l_quantity IS NOT NULL AND isfinite(l_quantity)
              THEN least(greatest(floor((l_quantity - mnq) / (mxq - mnq) * {lv} + 0.5), 0), {lv})::BIGINT END AS hx,
         CASE WHEN l_extendedprice IS NOT NULL AND isfinite(l_extendedprice)
              THEN least(greatest(floor((l_extendedprice - mnp) / (mxp - mnp) * {lv} + 0.5), 0), {lv})::BIGINT END AS hy
  FROM lineitem, mm),
cells AS (SELECT DISTINCT hx AS x0, hy AS y0 FROM r
          WHERE hx IS NOT NULL AND hy IS NOT NULL),  -- the NULL cell skips the curve walk
rec AS (
  SELECT x0, y0, x0 AS x, y0 AS y, CAST(0 AS BIGINT) AS d, {_H_BITS - 1} AS lvl FROM cells
  UNION ALL
  SELECT x0, y0,
    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN s - 1 - y ELSE y END) ELSE x END,
    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN s - 1 - x ELSE x END) ELSE y END,
    d + s * s * xor(3 * rx, ry),
    lvl - 1
  FROM (
    SELECT x0, y0, x, y, d, lvl, (CAST(1 AS BIGINT) << lvl) AS s,
           CASE WHEN (x & (CAST(1 AS BIGINT) << lvl)) > 0 THEN 1 ELSE 0 END AS rx,
           CASE WHEN (y & (CAST(1 AS BIGINT) << lvl)) > 0 THEN 1 ELSE 0 END AS ry
    FROM rec WHERE lvl >= 0)
),
hk AS (SELECT x0, y0, d AS hkey FROM rec WHERE lvl = -1),
-- LEFT: missing-rank rows keep a NULL hkey (their own layout group);
-- an inner join would silently drop them while Spark groups them
j AS (SELECT r.hx, r.hy, hk.hkey FROM r LEFT JOIN hk ON r.hx = hk.x0 AND r.hy = hk.y0)
SELECT (hkey >> {_H_BUCKET_SHIFT})::BIGINT AS hbucket,
  count(*)::BIGINT AS n,
  min(hx)::BIGINT AS min_q, max(hx)::BIGINT AS max_q,
  min(hy)::BIGINT AS min_p, max(hy)::BIGINT AS max_p
FROM j GROUP BY hbucket ORDER BY hbucket
"""


@query("hilbert_skipping_stats", stage="query")
def hilbert_skipping_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout planning (operators/layout.hilbert_keys) —
    the better-locality sibling of zorder_skipping_stats: quantize
    (l_quantity, l_extendedprice) to 8-bit ranks, walk the order-8
    Hilbert curve, bucket by hkey >> 10 (≈ files after a
    range-partitioned rewrite) and report per-bucket per-dimension rank
    windows. Hilbert's unit-step adjacency (pinned in tests) gives
    buckets with min/max windows at least as tight as the Z curve's —
    the parquet footer-pruning payoff at 100 TB. The ORACLE re-derives
    the curve with a DuckDB RECURSIVE CTE over the distinct quantized
    cells (an independent second implementation of the level loop; the
    Spark side is a chained-projection unroll)."""
    from shifu_spark.operators.layout import hilbert_keys

    li = _t(spark, sf_dir, "lineitem")
    h = hilbert_keys(
        li.select("l_quantity", "l_extendedprice"),
        ["l_quantity", "l_extendedprice"],
        bits=_H_BITS,
    )
    return (
        h.groupBy(F.shiftright("hkey", _H_BUCKET_SHIFT).cast("long").alias("hbucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("hr_l_quantity").alias("min_q"),
            F.max("hr_l_quantity").alias("max_q"),
            F.min("hr_l_extendedprice").alias("min_p"),
            F.max("hr_l_extendedprice").alias("max_p"),
        )
        .orderBy("hbucket")
    )


ORACLES["hilbert_skipping_stats"] = _hilbert_oracle()


@query(
    "tpch_q5_local_supplier",
    """
SELECT n_name,
  round(sum(cast(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10)))::DOUBLE, 4) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name ORDER BY revenue DESC, n_name
""",
    stage="query",
)
def tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): the canonical 6-way star join
    with a same-nation co-membership constraint. Spark-first shape: the
    three catalog dims (region-filtered nation, supplier, customer) all
    BROADCAST, so the only data-scale work is one pass over the
    date-pruned orders⋈lineitem pair; the c_nationkey = s_nationkey
    constraint rides the join condition, not a post-filter. Revenue in
    DECIMAL(38,10)."""
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1997-01-01").cast("timestamp")
    nat = (
        _t(spark, sf_dir, "nation")
        .join(
            _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .select("o_orderkey", "o_custkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(cust),
            (orders.o_custkey == cust.c_custkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
    )
    return (
        j.groupBy("n_name")
        .agg(F.round(F.sum(rev.cast("decimal(38,10)")).cast("double"), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@query(
    "tpch_q18_large_orders",
    """
WITH big AS (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING sum(cast(l_quantity AS DECIMAL(38,10))) > 250
)
SELECT c_name, c_custkey, o_orderkey,
  epoch_us(o_orderdate) AS o_orderdate_us,
  round(o_totalprice, 4) AS o_totalprice,
  round(sum(cast(l_quantity AS DECIMAL(38,10)))::DOUBLE, 4) AS sum_qty
FROM customer, orders, lineitem
WHERE o_orderkey IN (SELECT l_orderkey FROM big)
  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderdate_us, o_orderkey LIMIT 100
""",
    stage="query",
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): the canonical
    semi-join-over-aggregation shape — a HAVING subquery feeds an IN
    filter on the fact table. Spark-first: the qualifying-order set is
    aggregation-output-sized (top ~1% of orders at qty > 250), so it
    joins back as a BROADCAST semi-join — no second shuffle of
    lineitem; the top-100 is TakeOrderedAndProject. Quantity sums in
    DECIMAL(38,10); deterministic order (totalprice, date, orderkey)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(38,10)")).alias("q"))
        .filter(F.col("q") > 250)
        .select("l_orderkey")
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    j = (
        li.join(F.broadcast(big.withColumnRenamed("l_orderkey", "b_orderkey")),
                li.l_orderkey == F.col("b_orderkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    )
    return (
        j.groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(38,10)")).cast("double"), 4
            ).alias("sum_qty")
        )
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("o_orderdate_us"),
            F.round("o_totalprice", 4).alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderdate_us", "o_orderkey")
        .limit(100)
    )


@query(
    "revenue_rollup_region_nation",
    """
SELECT coalesce(r_name, '(all)') AS region,
  coalesce(n_name, '(all)') AS nation,
  CAST(grouping(r_name) * 2 + grouping(n_name) AS INT) AS gid,
  round(sum(cast(o_totalprice AS DECIMAL(38,10)))::DOUBLE, 4) AS revenue,
  count(*)::BIGINT AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY gid, region, nation
""",
    stage="query",
)
def revenue_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP report (region -> nation -> grand total): the
    OLAP grouping-sets shape the registry lacked. Spark-first:
    ``df.rollup`` compiles to ONE Expand + partial-aggregated shuffle
    (each input row fans to its 3 grouping sets map-side, so the
    exchange stays aggregate-output-sized); the nation/region dims
    broadcast onto the orders scan. grouping_id disambiguates real
    NULL-keyed groups from subtotal rows — coalesced to '(all)' only
    for display."""
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    reg = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    j = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(38,10)")).cast("double"), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.coalesce("r_name", F.lit("(all)")).alias("region"),
            F.coalesce("n_name", F.lit("(all)")).alias("nation"),
            "gid",
            "revenue",
            "n_orders",
        )
        .orderBy("gid", "region", "nation")
    )


_PIVOT_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _pivot_oracle() -> str:
    cols = ",\n  ".join(
        f"count(*) FILTER (WHERE o_orderpriority = '{p}')::BIGINT AS \"{c}\""
        for p, c in zip(_PIVOT_PRIORITIES, ["urgent", "high", "medium", "not_specified", "low"])
    )
    return f"""
SELECT o_orderstatus,
  {cols}
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@query("order_priority_pivot", stage="query")
def order_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (long -> wide crosstab): order counts by status x priority.
    The pivot values are PINNED literals (``pivot(col, values)``), so
    Spark skips the extra distinct-values scan and compiles straight to
    one partial-aggregated shuffle — same cost as a plain groupBy; the
    oracle is conditional aggregation (the relational identity of
    pivot). Complements the existing unpivot_column_totals."""
    orders = _t(spark, sf_dir, "orders")
    wide = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PIVOT_PRIORITIES)
        .agg(F.count(F.lit(1)))
    )
    renames = dict(
        zip(_PIVOT_PRIORITIES, ["urgent", "high", "medium", "not_specified", "low"])
    )
    out = wide.select(
        "o_orderstatus",
        *[F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(a) for p, a in renames.items()],
    )
    return out.orderBy("o_orderstatus")


ORACLES["order_priority_pivot"] = _pivot_oracle()


@query(
    "customers_without_urgent_orders",
    """
SELECT c_custkey, c_name, round(c_acctbal, 4) AS acctbal
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
ORDER BY c_custkey
""",
    stage="query",
)
def customers_without_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS / anti-join (the set-difference shape the registry
    composed inside funnels but never exposed): customers with no
    urgent order. Spark-first: ``left_anti`` join — the filtered order
    keys aggregate to a distinct-key set that BROADCASTS when
    dimension-sized (pinned below via the explicit distinct before the
    anti-join; Catalyst then needs no shuffle of the customer side)."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    urgent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    return (
        cust.join(F.broadcast(urgent), cust.c_custkey == urgent.o_custkey, "left_anti")
        .select("c_custkey", "c_name", F.round("c_acctbal", 4).alias("acctbal"))
        .orderBy("c_custkey")
    )


_CHUNK_TOKENS, _CHUNK_STRIDE = 64, 48


@query(
    "rag_chunk_spans",
    f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (SELECT doc_id, toks, len(toks) AS n,
        unnest(range(0, (len(toks) - 1) // {_CHUNK_STRIDE} + 1)) AS cid
      FROM t)
SELECT doc_id, cid::INT AS chunk_id,
  (cid * {_CHUNK_STRIDE})::INT AS tok_start,
  least({_CHUNK_TOKENS}, n - cid * {_CHUNK_STRIDE})::INT AS n_chunk_tokens,
  md5(array_to_string(
    toks[cid * {_CHUNK_STRIDE} + 1 : cid * {_CHUNK_STRIDE} + least({_CHUNK_TOKENS}, n - cid * {_CHUNK_STRIDE})],
    ' ')) AS chunk_digest
FROM s ORDER BY doc_id, chunk_id
""",
    stage="text",
)
def rag_chunk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping chunking (operators/text.chunk_spans_df): 64-token
    windows at stride 48 — the RAG / long-context preprocessing step
    (16-token overlap so no span straddles a boundary unseen). All
    in-row (sequence → transform → explode), zero corpus shuffle; the
    md5 chunk digest proves every chunk's text byte-for-byte."""
    from shifu_spark.operators.text import chunk_spans_df

    docs = _docs(spark, sf_dir)
    return chunk_spans_df(
        docs, chunk_tokens=_CHUNK_TOKENS, stride=_CHUNK_STRIDE
    ).orderBy("doc_id", "chunk_id")


def _cms_oracle() -> str:
    from shifu_spark.operators.sketch import CMS_DEPTH, CMS_WIDTH, cms_bucket_sql

    build = "\n    UNION ALL ".join(
        f"SELECT {i} AS row_i, {cms_bucket_sql('user_id', i, CMS_WIDTH)} AS bucket FROM e"
        for i in range(CMS_DEPTH)
    )
    probes = "\n    UNION ALL ".join(
        f"SELECT user_id, exact_count, {i} AS row_i, {cms_bucket_sql('user_id', i, CMS_WIDTH)} AS bucket FROM exact"
        for i in range(CMS_DEPTH)
    )
    return f"""
WITH e AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
cms AS (
  SELECT row_i, bucket, count(*)::BIGINT AS cnt FROM (
    {build})
  GROUP BY row_i, bucket),
exact AS (
  SELECT user_id, count(*)::BIGINT AS exact_count FROM e GROUP BY user_id
  ORDER BY exact_count DESC, user_id LIMIT 10),
probes AS (
    {probes}),
est AS (
  SELECT user_id, exact_count, min(coalesce(cnt, 0))::BIGINT AS cms_estimate
  FROM probes LEFT JOIN cms USING (row_i, bucket) GROUP BY user_id, exact_count)
SELECT user_id, exact_count, cms_estimate,
  (cms_estimate - exact_count)::BIGINT AS overestimate
FROM est ORDER BY exact_count DESC, user_id
"""


@query("countmin_heavy_hitters", stage="stats")
def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch heavy hitters (operators/sketch): build a 4x32
    frequency sketch of event user_ids in ONE pass (the shuffle carries
    at most depth·width·n_tasks partial counters — CONSTANT in data
    size, the whole point at 100 TB where an exact per-key groupBy's
    state is unbounded), then point-estimate the true top-10 users and
    report the collision overestimate (CMS guarantees estimate >=
    exact; equality when no collision). Hashing is the md5 nibble-fold,
    so sketch contents are engine/layout-independent and the oracle
    rebuilds the identical sketch relationally."""
    from shifu_spark.operators.sketch import cms_build_df, cms_estimate_df

    # NULL user up front: an unattributable event is not a heavy-hitter
    # candidate — and a NULL key surviving into the exact top-10 would
    # consume a slot and then vanish in the estimate join (NULL never
    # equi-joins), silently returning 9 rows
    ev = _events(spark, sf_dir).select("user_id").where(F.col("user_id").isNotNull())
    cms = cms_build_df(ev, "user_id")
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.desc("exact_count"), "user_id")
        .limit(10)
    )
    est = cms_estimate_df(cms, exact.select("user_id"), "user_id")
    return (
        exact.join(est, "user_id")
        .select(
            "user_id",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count")).alias("overestimate"),
        )
        .orderBy(F.desc("exact_count"), "user_id")
    )


ORACLES["countmin_heavy_hitters"] = _cms_oracle()


def _bloom_oracle() -> str:
    from shifu_spark.operators.sketch import BLOOM_BITS, BLOOM_K, bloom_pos_sql

    build = "\n    UNION ALL ".join(
        f"SELECT {bloom_pos_sql('user_id', i, BLOOM_BITS)} AS pos FROM members"
        for i in range(BLOOM_K)
    )
    probes = "\n    UNION ALL ".join(
        f"SELECT user_id, {bloom_pos_sql('user_id', i, BLOOM_BITS)} AS pos FROM probe_keys"
        for i in range(BLOOM_K)
    )
    return f"""
WITH members AS (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' AND value > 200),
bloom AS (SELECT DISTINCT pos FROM (
    {build})),
probe_keys AS (SELECT DISTINCT user_id FROM events),
probes AS (
    {probes}),
hits AS (
  SELECT p.user_id,
         (count(*) = count(b.pos))::BOOLEAN AS bloom_hit
  FROM probes p LEFT JOIN bloom b ON p.pos = b.pos GROUP BY p.user_id)
SELECT h.user_id, h.bloom_hit,
  (m.user_id IS NOT NULL) AS is_member,
  (h.bloom_hit AND m.user_id IS NULL) AS false_positive
FROM hits h LEFT JOIN members m ON h.user_id = m.user_id
ORDER BY h.user_id
"""


@query("bloom_membership_report", stage="stats")
def bloom_membership_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership (operators/sketch.bloom_build_df): build
    a 256-bit/k=3 filter over high-value purchasers (~32 of 150 users)
    and probe every user. The Bloom contract the oracle re-derives
    bit-for-bit: NO false negatives ever, false positives only from
    hash collisions (reported per probe). The filter is its set-bit
    POSITIONS as a bounded relation (<= 256 rows — same constant-size
    build shuffle as the packed-longs form, which is a physical layout
    detail); at 100 TB this is the semi-join pre-filter that spares the
    big side a shuffle — Spark's runtime bloom pushdown
    (bloom_filter_agg, pinned in test_plans) is this same structure
    with engine-private hashing."""
    from shifu_spark.operators.sketch import bloom_build_df, bloom_probe_df

    ev = _events(spark, sf_dir)
    members = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 200))
        .select("user_id")
        .distinct()
    )
    bloom = bloom_build_df(members, "user_id")
    probes = ev.select("user_id").distinct()
    hits = bloom_probe_df(bloom, probes, "user_id")
    return (
        hits.join(
            members.withColumn("_m", F.lit(1)), "user_id", "left"
        )
        .select(
            "user_id",
            "bloom_hit",
            F.col("_m").isNotNull().alias("is_member"),
            (F.col("bloom_hit") & F.col("_m").isNull()).alias("false_positive"),
        )
        .orderBy("user_id")
    )


def _hll_oracle() -> str:
    from shifu_spark.operators.sketch import (
        HLL_ALPHA,
        HLL_M,
        hll_register_sql,
        hll_rho_sql,
    )

    inv = " ".join(f"WHEN {k} THEN {2.0 ** -k!r}" for k in range(1, 35))
    return f"""
WITH k AS (SELECT {hll_register_sql('l_orderkey')} AS reg, {hll_rho_sql('l_orderkey')} AS rho
           FROM lineitem),
regs AS (SELECT reg, max(rho) AS max_rho FROM k GROUP BY reg),
s AS (SELECT sum(CASE max_rho {inv} END) AS present_sum, count(*) AS n_regs FROM regs),
e AS (SELECT round({HLL_ALPHA} * {HLL_M} * {HLL_M} / (present_sum + ({HLL_M} - n_regs)), 4) AS hll_estimate,
             n_regs::BIGINT AS n_registers_hit
      FROM s),
x AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS exact_distinct FROM lineitem)
SELECT e.hll_estimate, e.n_registers_hit, x.exact_distinct,
  round(abs(e.hll_estimate - x.exact_distinct) / x.exact_distinct, 6) AS rel_error
FROM e, x
"""


@query("hll_distinct_report", stage="stats")
def hll_distinct_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch HyperLogLog (operators/sketch.hll_registers_df):
    64-register raw estimator over lineitem order keys — ONE pass, a
    <= 64-row register table, constant state at any data size (the
    structure inside Spark's approx_count_distinct, but with
    oracle-mirrorable md5 hashing and a log-free leading-zero CASE).
    2^-rho terms are literal dyadic doubles so the register sum is
    exact and order-independent; reported against the exact distinct
    count with the relative error (raw estimator: sized so
    n >> 2.5·m, where the ln-based small-range correction — not
    engine-portable — would never engage)."""
    from shifu_spark.operators.sketch import hll_estimate_expr, hll_registers_df

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    est = hll_estimate_expr(hll_registers_df(li, "l_orderkey"))
    exact = li.agg(F.count_distinct("l_orderkey").alias("exact_distinct"))
    return est.crossJoin(exact).select(
        "hll_estimate",
        "n_registers_hit",
        "exact_distinct",
        F.round(
            F.abs(F.col("hll_estimate") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            6,
        ).alias("rel_error"),
    )


ORACLES["bloom_membership_report"] = _bloom_oracle()
ORACLES["hll_distinct_report"] = _hll_oracle()


def _streaming_cms_oracle() -> str:
    from shifu_spark.operators.sketch import CMS_DEPTH, CMS_WIDTH, cms_bucket_sql

    build = "\n    UNION ALL ".join(
        f"SELECT date_trunc('day', ts) AS w, {i} AS row_i, "
        f"{cms_bucket_sql('user_id', i, CMS_WIDTH)} AS bucket FROM events"
        for i in range(CMS_DEPTH)
    )
    probes = "\n    UNION ALL ".join(
        f"SELECT w, user_id, {i} AS row_i, {cms_bucket_sql('user_id', i, CMS_WIDTH)} AS bucket FROM pk"
        for i in range(CMS_DEPTH)
    )
    return f"""
WITH cms AS (
  SELECT w, row_i, bucket, count(*)::BIGINT AS cnt FROM (
    {build})
  GROUP BY w, row_i, bucket),
pk AS (
  SELECT DISTINCT date_trunc('day', ts) AS w, user_id
  FROM events WHERE user_id % 30 = 0),
probes AS (
    {probes}),
est AS (
  SELECT p.w, p.user_id, min(coalesce(c.cnt, 0))::BIGINT AS cms_estimate
  FROM probes p LEFT JOIN cms c ON p.w = c.w AND p.row_i = c.row_i AND p.bucket = c.bucket
  GROUP BY p.w, p.user_id)
SELECT epoch_us(w) AS window_us, user_id, cms_estimate
FROM est ORDER BY window_us, user_id
"""


@query("streaming_countmin", stage="streaming")
def streaming_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed Count-Min sketch over the event stream (13th streaming
    pattern; streaming/ops.streaming_cms_windowed): per-day 4x32
    counter tables — streaming state that is CONSTANT in the key
    domain (the unbounded-key answer to streaming heavy hitters).
    Probe users (user_id % 30 == 0, per window they appear in)
    finalize batch-side from the sink; availableNow replay equals the
    relational rebuild the oracle runs. Same md5 nibble-fold hashing
    as the batch sketch, so the sink contents are engine- and
    layout-independent."""
    from shifu_spark.operators.sketch import CMS_DEPTH, CMS_WIDTH, cms_bucket_expr
    from shifu_spark.streaming.ops import streaming_cms_windowed

    s = _events_stream(spark, sf_dir)
    sketch = streaming_cms_windowed(s, "user_id", ts_col="ts", window="1 day")
    sink = _run_stream_to_sink(spark, sketch, "cms")
    ev = _events(spark, sf_dir)
    pk = (
        ev.filter(F.col("user_id") % 30 == 0)
        .select(F.date_trunc("day", F.col("ts")).alias("window_start"), "user_id")
        .distinct()
    )
    probes = pk.select(
        "window_start",
        "user_id",
        F.posexplode(
            F.array(*[cms_bucket_expr("user_id", i, CMS_WIDTH) for i in range(CMS_DEPTH)])
        ).alias("row_i", "bucket"),
    )
    est = (
        probes.join(F.broadcast(sink), ["window_start", "row_i", "bucket"], "left")
        .groupBy("window_start", "user_id")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_estimate"))
    )
    return est.select(
        F.unix_micros(F.col("window_start").cast("timestamp")).alias("window_us"),
        "user_id",
        "cms_estimate",
    ).orderBy("window_us", "user_id")


ORACLES["streaming_countmin"] = _streaming_cms_oracle()


@query("dedup_groups_distributed", ORACLES["dedup_groups"], stage="dedup")
def dedup_groups_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISTRIBUTED regime of near-dup group resolution: identical
    composition to dedup_groups, but with the small-graph threshold
    forced to 0 so the iterative min-label propagation path runs (edge
    join + per-node min per round, labels persisted per round to bound
    lineage, converges in O(cluster diameter) rounds) instead of the
    driver-side union-find shortcut. This is the exact code path a
    100 TB pair graph takes — here it gets its own driver-proven row
    rather than riding only on pytest. Same oracle as dedup_groups
    (the two regimes are output-identical by contract)."""
    from shifu_spark.operators.dedup import dedup_groups_df, minhash_lsh_pairs_df

    docs = _docs(spark, sf_dir)
    caches: list[DataFrame] = []
    pairs = minhash_lsh_pairs_df(docs, 3, threshold=0.5, cache_out=caches).select(
        "doc_a", "doc_b"
    )
    try:
        out = dedup_groups_df(pairs, small_graph_threshold=0).orderBy("doc_id")
    except BaseException:
        for c in caches:
            c.unpersist()
        raise
    return _materialize_release(out, caches)


def _hll_union_oracle() -> str:
    from shifu_spark.operators.sketch import (
        HLL_ALPHA,
        HLL_M,
        hll_register_sql,
        hll_rho_sql,
    )

    inv = " ".join(f"WHEN {k} THEN {2.0 ** -k!r}" for k in range(1, 35))

    def regs(src: str) -> str:
        return (
            f"SELECT reg, max(rho) AS max_rho FROM ("
            f"SELECT {hll_register_sql('user_id')} AS reg, {hll_rho_sql('user_id')} AS rho "
            f"FROM events WHERE event_type = '{src}' AND user_id IS NOT NULL) GROUP BY reg"
        )

    return f"""
WITH ra AS ({regs('click')}),
rb AS ({regs('purchase')}),
merged AS (
  SELECT reg, max(max_rho) AS max_rho FROM (
    SELECT * FROM ra UNION ALL SELECT * FROM rb) GROUP BY reg),
s AS (SELECT sum(CASE max_rho {inv} END) AS present_sum, count(*) AS n_regs FROM merged),
e AS (SELECT round({HLL_ALPHA} * {HLL_M} * {HLL_M} / (present_sum + ({HLL_M} - n_regs)), 4) AS hll_union_estimate,
             n_regs::BIGINT AS n_registers_hit
      FROM s),
x AS (SELECT count(DISTINCT user_id)::BIGINT AS exact_union
      FROM events WHERE event_type IN ('click', 'purchase'))
SELECT e.hll_union_estimate, e.n_registers_hit, x.exact_union
FROM e, x
"""


@query("hll_union_report", stage="stats")
def hll_union_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY (operators/sketch.hll_merge): union the
    click-user and purchase-user HLLs by register-wise max and estimate
    the union cardinality — the property that makes sketches
    distribution-native (partial sketches from any partition / day /
    source union losslessly, so a 1000-executor rollup ships 64
    registers per grain instead of raw keys). Reported against the
    exact distinct union."""
    from shifu_spark.operators.sketch import (
        hll_estimate_expr,
        hll_merge,
        hll_registers_df,
    )

    ev = _events(spark, sf_dir)
    ra = hll_registers_df(
        ev.filter(F.col("event_type") == "click").select("user_id"), "user_id"
    )
    rb = hll_registers_df(
        ev.filter(F.col("event_type") == "purchase").select("user_id"), "user_id"
    )
    est = hll_estimate_expr(hll_merge(ra, rb)).withColumnRenamed(
        "hll_estimate", "hll_union_estimate"
    )
    exact = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .agg(F.count_distinct("user_id").alias("exact_union"))
    )
    return est.crossJoin(exact)


ORACLES["hll_union_report"] = _hll_union_oracle()


@query(
    "dq_constraint_report",
    """
WITH comp AS (
  SELECT 'completeness_o_custkey' AS check_name,
         round(count(o_custkey) / CAST(count(*) AS DOUBLE), 6) AS metric,
         (count(*) - count(o_custkey))::BIGINT AS violations
  FROM orders),
uniq AS (
  SELECT 'uniqueness_o_orderkey' AS check_name,
         round(count(DISTINCT o_orderkey) / CAST(count(*) AS DOUBLE), 6) AS metric,
         (count(*) - count(DISTINCT o_orderkey))::BIGINT AS violations
  FROM orders),
rng AS (
  SELECT 'range_l_discount_0_1' AS check_name,
         round(count(*) FILTER (WHERE l_discount BETWEEN 0 AND 1) / CAST(count(*) AS DOUBLE), 6) AS metric,
         count(*) FILTER (WHERE l_discount NOT BETWEEN 0 AND 1)::BIGINT AS violations
  FROM lineitem),
ref AS (
  SELECT 'ref_lineitem_orderkey' AS check_name,
         round(1.0 - orphans / CAST(total AS DOUBLE), 6) AS metric,
         orphans::BIGINT AS violations
  FROM (SELECT count(*) AS total,
               count(*) FILTER (WHERE o.o_orderkey IS NULL) AS orphans
        FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey)),
vals AS (
  SELECT 'values_o_orderstatus' AS check_name,
         round(count(*) FILTER (WHERE o_orderstatus IN ('F', 'O', 'P')) / CAST(count(*) AS DOUBLE), 6) AS metric,
         count(*) FILTER (WHERE o_orderstatus NOT IN ('F', 'O', 'P'))::BIGINT AS violations
  FROM orders)
SELECT check_name, metric, violations, (violations = 0) AS passed FROM (
  SELECT * FROM comp UNION ALL SELECT * FROM uniq UNION ALL SELECT * FROM rng
  UNION ALL SELECT * FROM ref UNION ALL SELECT * FROM vals)
ORDER BY check_name
""",
    stage="stats",
)
def dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint suite (the Deequ/Great-Expectations
    surface a production lakehouse runs before training): completeness,
    key uniqueness, value-range, referential integrity
    (lineitem.l_orderkey ⊆ orders.o_orderkey via one join — the only
    data-scale shuffle; every other constraint folds into single-pass
    aggregates), and accepted-values — one report row per constraint
    with (metric, violations, passed). Ratios are single-division
    doubles rounded 6 on both engines."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1))

    def row(name, metric, violations):
        return (F.lit(name).alias("check_name"), metric.alias("metric"),
                violations.cast("long").alias("violations"))

    comp = orders.agg(*row(
        "completeness_o_custkey",
        F.round(F.count("o_custkey") / n.cast("double"), 6),
        n - F.count("o_custkey"),
    ))
    uniq = orders.agg(*row(
        "uniqueness_o_orderkey",
        F.round(F.count_distinct("o_orderkey") / n.cast("double"), 6),
        n - F.count_distinct("o_orderkey"),
    ))
    in_rng = F.col("l_discount").between(0, 1)
    rng = li.agg(*row(
        "range_l_discount_0_1",
        F.round(F.sum(in_rng.cast("long")) / n.cast("double"), 6),
        F.sum((~in_rng).cast("long")),
    ))
    joined = li.select("l_orderkey").join(
        orders.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"), "left"
    )
    ref = joined.agg(*row(
        "ref_lineitem_orderkey",
        F.round(1.0 - F.sum(F.col("o_orderkey").isNull().cast("long")) / n.cast("double"), 6),
        F.sum(F.col("o_orderkey").isNull().cast("long")),
    ))
    ok_vals = F.col("o_orderstatus").isin("F", "O", "P")
    vals = orders.agg(*row(
        "values_o_orderstatus",
        F.round(F.sum(ok_vals.cast("long")) / n.cast("double"), 6),
        F.sum((~ok_vals).cast("long")),
    ))
    out = comp.unionByName(uniq).unionByName(rng).unionByName(ref).unionByName(vals)
    return out.select(
        "check_name", "metric", "violations", (F.col("violations") == 0).alias("passed")
    ).orderBy("check_name")


def _hll_by_source_oracle() -> str:
    from shifu_spark.operators.sketch import (
        HLL_ALPHA,
        HLL_M,
        hll_register_sql,
        hll_rho_sql,
    )

    inv = " ".join(f"WHEN {k} THEN {2.0 ** -k!r}" for k in range(1, 35))
    return f"""
WITH k AS (SELECT source, {hll_register_sql("text")} AS reg, {hll_rho_sql("text")} AS rho
           FROM documents),
regs AS (SELECT source, reg, max(rho) AS max_rho FROM k GROUP BY source, reg),
s AS (SELECT source, sum(CASE max_rho {inv} END) AS present_sum, count(*) AS n_regs
      FROM regs GROUP BY source),
e AS (SELECT source,
             round({HLL_ALPHA} * {HLL_M} * {HLL_M} / (present_sum + ({HLL_M} - n_regs)), 4) AS hll_estimate,
             n_regs::BIGINT AS n_registers_hit
      FROM s),
x AS (SELECT source, count(DISTINCT text)::BIGINT AS exact_distinct FROM documents GROUP BY source)
SELECT e.source, e.hll_estimate, e.n_registers_hit, x.exact_distinct
FROM e JOIN x ON e.source = x.source ORDER BY e.source
"""


@query("hll_by_source", stage="stats")
def hll_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED HLL — the production shape of sketch aggregation
    (GROUP BY dimension, sketch as the aggregation state): per-source
    distinct-document estimates from per-(source, register) max-rho
    tables. The shuffle carries at most sources × 64 register rows —
    constant per group at any corpus size; reported against per-source
    exact distinct counts."""
    from shifu_spark.operators.sketch import (
        HLL_ALPHA,
        HLL_M,
        hll_register_sql,
        hll_rho_sql,
    )

    docs = _docs(spark, sf_dir)
    # NULL text inserts nothing into the sketch (count_distinct ignores
    # NULL on both engines; an md5(NULL) register row would inflate
    # n_registers_hit and skew the estimate one-sidedly)
    regs = (
        docs.where(F.col("text").isNotNull())
        .select(
            "source",
            F.expr(hll_register_sql("text")).alias("reg"),
            F.expr(hll_rho_sql("text")).alias("rho"),
        )
        .groupBy("source", "reg")
        .agg(F.max("rho").alias("max_rho"))
    )
    inv_pow2 = F.array(*[F.lit(2.0 ** -k) for k in range(1, 35)])
    est = regs.groupBy("source").agg(
        F.sum(F.element_at(inv_pow2, F.col("max_rho"))).alias("present_sum"),
        F.count(F.lit(1)).alias("n_regs"),
    ).select(
        "source",
        F.round(
            F.lit(HLL_ALPHA * HLL_M * HLL_M)
            / (F.col("present_sum") + (F.lit(HLL_M) - F.col("n_regs"))),
            4,
        ).alias("hll_estimate"),
        F.col("n_regs").cast("long").alias("n_registers_hit"),
    )
    exact = docs.groupBy("source").agg(
        F.count_distinct("text").alias("exact_distinct")
    )
    return est.join(exact, "source").orderBy("source")


ORACLES["hll_by_source"] = _hll_by_source_oracle()


@query("session_window_batch", ORACLES["streaming_sessionize"], stage="query")
def session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` in BATCH mode (Spark 3.2+): gap-based
    sessions as a first-class groupBy key — the engine merges
    overlapping [ts, ts+gap) intervals itself, replacing the
    lag + cumulative-sum window chain (events_sessionize) with ONE
    aggregation; the two forms share the streaming twin's oracle
    (>= gap starts a new session). At scale this is one hash exchange
    on user_id + an in-partition interval merge — no second window
    pass."""
    ev = _events(spark, sf_dir)
    per_sess = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return (
        per_sess.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events"),
            F.max("n_events").cast("long").alias("max_session_events"),
        )
        .orderBy("user_id")
    )


@query(
    "tpch_q4_late_shipments",
    """
SELECT o_orderpriority, count(*)::BIGINT AS order_count
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
    stage="query",
)
def tpch_q4_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-shaped EXISTS semi-join (the schema has no
    commit/receipt dates, so the late-line predicate is
    l_shipdate > o_orderdate + 60 days): orders with at least one late
    line, counted per priority. Spark-first: a LEFT SEMI join — the
    probe side deduplicates inside the join (no distinct pass, no row
    multiplication from multi-line orders), then a 5-group aggregate.
    The date predicate rides the join condition, evaluated during the
    semi probe."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    sj = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")),
        "left_semi",
    )
    return (
        sj.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "events_moving_avg",
    """
WITH w AS (
  SELECT user_id, event_id,
         round(CAST(avg(CAST(CASE WHEN value IS NOT NULL AND isfinite(value)
                                  THEN value END AS DECIMAL(38,10))) OVER (
           PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE), 6) AS mov_avg
  FROM events)
SELECT user_id, event_id, mov_avg FROM w ORDER BY user_id, event_id
""",
    stage="query",
)
def events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING-frame window (the one frame type the registry lacked:
    ROWS BETWEEN k PRECEDING AND CURRENT ROW): per-user 4-event moving
    average of event value, ordered by (ts, event_id). One hash
    exchange on user_id + an in-partition sort — the same shape as any
    per-key window; the frame sum goes through DECIMAL(38,10) so the
    average is exact and engine-identical regardless of accumulation
    order."""
    from pyspark.sql import Window

    from shifu_spark.functions.nonvalue import is_value

    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    # non-finite values are MISSING: null them before the DECIMAL cast
    # (avg skips NULLs identically on both engines; DuckDB's NaN->
    # DECIMAL cast is a hard error, Spark's is engine-defined)
    v = F.when(is_value(F.col("value")), F.col("value"))
    return (
        ev.select(
            "user_id",
            "event_id",
            F.round(
                F.avg(v.cast("decimal(38,10)")).over(w).cast("double"), 6
            ).alias("mov_avg"),
        )
        .orderBy("user_id", "event_id")
    )


def _bpe_fertility_oracle() -> str:
    # the same recursive-CTE encoder as bpe_tokenize, rolled up by source
    base = _bpe_oracle()
    core = base[: base.rindex("SELECT a.doc_id")]
    return (
        core
        + """SELECT d.source,
  count(*)::BIGINT AS n_docs,
  sum(a.n_pieces_l)::BIGINT AS n_pieces,
  sum(a.n_words_l)::BIGINT AS n_words,
  round(sum(a.n_pieces_l) / CAST(sum(a.n_words_l) AS DOUBLE), 6) AS fertility
FROM (SELECT g.doc_id, len(g.words) AS n_words_l, len(a.pieces) AS n_pieces_l
      FROM agg a JOIN aug g USING (doc_id)) a
JOIN documents d ON a.doc_id = d.doc_id
GROUP BY d.source ORDER BY d.source
"""
    )


@query("bpe_fertility_by_source", stage="text")
def bpe_fertility_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY report (pieces per word, by source) — the
    standard tokenizer-quality metric (a vocabulary that fits the
    corpus has fertility near 1; out-of-domain sources blow it up,
    which is how mixture builders catch tokenizer/domain mismatch).
    One distributed encode pass (same pinned merges as bpe_tokenize)
    + a catalog-sized source rollup; counts are exact ints so the
    ratio is a single deterministic division."""
    from shifu_spark.operators.bpe import bpe_encode_df, bpe_pinned_merges

    docs = _docs(spark, sf_dir)
    enc = bpe_encode_df(docs, bpe_pinned_merges()).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    return (
        enc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_pieces").cast("long").alias("n_pieces"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.round(
                F.sum("n_pieces") / F.sum("n_words").cast("double"), 6
            ).alias("fertility"),
        )
        .orderBy("source")
    )


ORACLES["bpe_fertility_by_source"] = _bpe_fertility_oracle()


def _pagerank_oracle() -> str:
    from shifu_spark.operators.graph import pagerank_unrolled_sql

    edges_sql = """
SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem GROUP BY 1, 2
UNION ALL
SELECT l_suppkey * 2 + 1 AS src, l_partkey * 2 AS dst FROM lineitem GROUP BY 1, 2
"""
    inner = pagerank_unrolled_sql(edges_sql)
    return f"""
WITH pr AS ({inner})
SELECT node, round(rank, 8) AS rank,
       CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_type,
       (node // 2)::BIGINT AS entity_key
FROM pr ORDER BY rank DESC, node LIMIT 20
"""


@query("pagerank_part_supplier", stage="query")
def pagerank_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (operators/graph.pagerank_df) over the symmetrized
    part–supplier bipartite graph from lineitem (node id = key*2 for
    parts, key*2+1 for suppliers — an engine-shared integer encoding):
    5 power iterations, damping 0.85; top-20 nodes. The ITERATIVE
    ALGORITHM family beyond training: each superstep is one edges⋈ranks
    join + one groupBy (the Pregel shape as plain DataFrame ops), ranks
    localCheckpoint'ed per iteration so the plan tree stays flat.
    Determinism: per-target contribution sums in DECIMAL(38,10), every
    other step a single double op — the oracle re-runs the identical 5
    steps as chained SQL CTEs."""
    from shifu_spark.operators.graph import pagerank_df

    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    fwd = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    edges = fwd.unionByName(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    pr = pagerank_df(edges)
    return (
        pr.select(
            "node",
            F.round("rank", 8).alias("rank"),
            F.when(F.col("node") % 2 == 0, "part").otherwise("supplier").alias("node_type"),
            F.floor(F.col("node") / 2).cast("long").alias("entity_key"),
        )
        .orderBy(F.desc("rank"), "node")
        .limit(20)
    )


ORACLES["pagerank_part_supplier"] = _pagerank_oracle()


def _bigram_oracle() -> str:
    from shifu_spark.operators.text import (
        BIGRAM_BACKOFF_PENALTY,
        BIGRAM_LOGPROB,
        UNIGRAM_LOGPROB,
        UNIGRAM_OOV_LOGPROB,
    )

    bg_whens = " ".join(
        f"WHEN '{p}' THEN CAST({lp!r} AS DOUBLE)"
        for p, lp in sorted(BIGRAM_LOGPROB.items())
    )
    ug_whens = " ".join(
        f"WHEN '{w}' THEN CAST({lp!r} AS DOUBLE)"
        for w, lp in sorted(UNIGRAM_LOGPROB.items())
    )
    ug_case = f"CASE ws[i] {ug_whens} ELSE CAST({UNIGRAM_OOV_LOGPROB!r} AS DOUBLE) END"
    pair = "ws[i-1] || ' ' || ws[i]"
    lp = (
        f"CASE {pair} {bg_whens} "
        f"ELSE {ug_case} + CAST({BIGRAM_BACKOFF_PENALTY!r} AS DOUBLE) END"
    )
    in_bg = ", ".join(f"'{p}'" for p in sorted(BIGRAM_LOGPROB))
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
scored AS (
  SELECT doc_id, len(ws) AS n,
         list_sum(list_transform(range(2, len(ws) + 1), i -> {lp})) AS total,
         len(list_filter(range(2, len(ws) + 1),
             i -> ({pair}) NOT IN ({in_bg}))) AS bmiss
  FROM toks)
SELECT doc_id,
  round(CASE WHEN n >= 2 THEN total / (n - 1) END, 6) AS mean_logprob,
  round(CASE WHEN n >= 2 THEN bmiss / CAST(n - 1 AS DOUBLE) END, 6) AS backoff_rate
FROM scored ORDER BY doc_id
"""


@query("bigram_logprob_quality", stage="text")
def bigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated-bigram LM quality scoring
    (text.bigram_logprob_exprs) — the next step up the CCNet ladder
    from unigram_logprob_quality: per-position bigram log-prob with
    unigram+penalty backoff, all dyadic rationals so per-doc sums are
    exact and order-independent; one map lookup per position inside a
    transform over an index sequence — no explode, no shuffle."""
    from shifu_spark.operators.text import bigram_logprob_exprs

    docs = _docs(spark, sf_dir)
    mean_lp, backoff_rate = bigram_logprob_exprs("text")
    return docs.select(
        "doc_id",
        F.round(mean_lp, 6).alias("mean_logprob"),
        F.round(backoff_rate, 6).alias("backoff_rate"),
    ).orderBy("doc_id")


ORACLES["bigram_logprob_quality"] = _bigram_oracle()


@query(
    "cohort_retention",
    """
WITH firsts AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_wk FROM events GROUP BY user_id),
active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
sizes AS (SELECT cohort_wk, count(*) AS n_cohort FROM firsts GROUP BY cohort_wk),
j AS (
  SELECT f.cohort_wk,
         ((epoch_us(a.wk) - epoch_us(f.cohort_wk)) // 604800000000)::INT AS week_offset,
         count(*) AS n_active
  FROM active a JOIN firsts f ON a.user_id = f.user_id
  GROUP BY f.cohort_wk, week_offset)
SELECT epoch_us(j.cohort_wk) AS cohort_week_us, j.week_offset,
  s.n_cohort::BIGINT AS n_cohort, j.n_active::BIGINT AS n_active,
  round(j.n_active / CAST(s.n_cohort AS DOUBLE), 6) AS retention
FROM j JOIN sizes s ON j.cohort_wk = s.cohort_wk
ORDER BY cohort_week_us, week_offset
""",
    stage="query",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly COHORT RETENTION (the classic product-analytics triangle):
    cohort = ISO week of a user's first event; each cell = fraction of
    the cohort active in week k after joining. Two aggregate passes +
    one join on user_id — the first-event frame is user-cardinality-
    sized, so at 100 TB it broadcasts or buckets by user like any
    profile table; week offsets are exact integer micros arithmetic
    (no engine-specific datediff semantics)."""
    ev = _events(spark, sf_dir)
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_wk")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    sizes = firsts.groupBy("cohort_wk").agg(F.count(F.lit(1)).alias("n_cohort"))
    j = (
        active.join(firsts, "user_id")
        .select(
            "cohort_wk",
            (
                (F.unix_micros("wk") - F.unix_micros("cohort_wk"))
                / F.lit(604800000000)
            ).cast("int").alias("week_offset"),
        )
        .groupBy("cohort_wk", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return (
        j.join(sizes, "cohort_wk")
        .select(
            F.unix_micros("cohort_wk").alias("cohort_week_us"),
            "week_offset",
            F.col("n_cohort").cast("long").alias("n_cohort"),
            F.col("n_active").cast("long").alias("n_active"),
            F.round(F.col("n_active") / F.col("n_cohort").cast("double"), 6).alias(
                "retention"
            ),
        )
        .orderBy("cohort_week_us", "week_offset")
    )


@query(
    "streaming_gold_table",
    """
SELECT user_id AS key, count(*)::BIGINT AS n,
  round(sum(CAST(value AS DECIMAL(38,10)))::DOUBLE, 6) AS total,
  max(value) AS mx
FROM events GROUP BY user_id ORDER BY key
""",
    stage="streaming",
)
def streaming_gold_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Medallion GOLD-TABLE maintenance (14th streaming pattern;
    streaming/ops.start_gold_table_foreach_batch): raw event rows
    stream through foreachBatch, each batch's per-key partials MERGE
    into a parquet gold table (read-modify-atomic-swap — ``MERGE INTO``
    with a lakehouse format). The batch aggregates INSIDE foreachBatch:
    a streaming-graph groupBy would emit cumulative totals in update
    mode and double-count downstream (the stateless-graph lesson,
    pinned by the 2-batch replay test). DECIMAL sums make the merged
    totals equal one batch aggregate exactly — which is the oracle.
    The gold directory is a per-run temp dir, materialized and removed
    before returning."""
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="shifu_gold_")
    try:
        from shifu_spark.streaming.ops import start_gold_table_foreach_batch

        s = _events_stream(spark, sf_dir).select("user_id", "value", "ts")
        q = start_gold_table_foreach_batch(
            s, "user_id", "value", f"{base}/gold", f"{base}/ckpt"
        )
        q.awaitTermination()
        out = (
            spark.read.parquet(f"{base}/gold")
            .select(
                "key",
                F.col("n").cast("long").alias("n"),
                F.round(F.col("s").cast("double"), 6).alias("total"),
                F.col("mx").alias("mx"),
            )
            .orderBy("key")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


@query(
    "event_funnel_analysis",
    """
WITH seq AS (
  SELECT user_id,
         list_transform(
           list_sort(list({'ts_us': epoch_us(ts), 'event_id': event_id, 'event_type': event_type})),
           r -> r.event_type) AS types
  FROM events GROUP BY user_id),
st AS (
  SELECT user_id,
         list_position(types, 'view') AS i1,
         CASE WHEN list_position(types, 'view') > 0
              THEN list_position(types[list_position(types, 'view') + 1:], 'click')
              ELSE 0 END AS i2r,
         types
  FROM seq),
st2 AS (
  SELECT user_id, i1, i2r,
         CASE WHEN i1 > 0 AND i2r > 0
              THEN list_position(types[i1 + i2r + 1:], 'purchase')
              ELSE 0 END AS i3r
  FROM st)
SELECT count(*)::BIGINT AS n_users,
  count(*) FILTER (WHERE i1 > 0)::BIGINT AS n_view,
  count(*) FILTER (WHERE i1 > 0 AND i2r > 0)::BIGINT AS n_view_click,
  count(*) FILTER (WHERE i1 > 0 AND i2r > 0 AND i3r > 0)::BIGINT AS n_full_funnel,
  round(count(*) FILTER (WHERE i1 > 0 AND i2r > 0) /
        CAST(greatest(count(*) FILTER (WHERE i1 > 0), 1) AS DOUBLE), 6) AS view_to_click,
  round(count(*) FILTER (WHERE i1 > 0 AND i2r > 0 AND i3r > 0) /
        CAST(greatest(count(*) FILTER (WHERE i1 > 0 AND i2r > 0), 1) AS DOUBLE), 6) AS click_to_purchase
FROM st2
""",
    stage="query",
)
def event_funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern funnel (the product-analytics conversion
    funnel): users whose event history contains view -> click ->
    purchase AS AN ORDERED SUBSEQUENCE (greedy first-match via
    array_position over progressively sliced suffixes — pure in-row
    array ops after ONE per-user collect; per-user event lists are
    bounded, the same justification as every per-user window here).
    The sort key is (ts, event_id, type) on both engines so tied
    timestamps order identically. Stage counts + conversion rates in
    one row."""
    ev = _events(spark, sf_dir)
    seq = (
        ev.select(
            "user_id",
            F.struct(
                F.unix_micros("ts").alias("ts_us"),
                "event_id",
                "event_type",
            ).alias("r"),
        )
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("r")).alias("rs"))
        .select(
            "user_id", F.transform("rs", lambda r: r["event_type"]).alias("types")
        )
    )
    i1 = F.array_position("types", "view")
    st = seq.select(
        "user_id",
        "types",
        i1.alias("i1"),
        F.when(
            i1 > 0,
            F.array_position(
                F.slice(F.col("types"), (i1 + 1).cast("int"), F.lit(1000000)), "click"
            ),
        )
        .otherwise(F.lit(0))
        .alias("i2r"),
    )
    st2 = st.select(
        "user_id",
        "i1",
        "i2r",
        F.when(
            (F.col("i1") > 0) & (F.col("i2r") > 0),
            F.array_position(
                F.slice(
                    F.col("types"),
                    (F.col("i1") + F.col("i2r") + 1).cast("int"),
                    F.lit(1000000),
                ),
                "purchase",
            ),
        )
        .otherwise(F.lit(0))
        .alias("i3r"),
    )
    v = F.sum((F.col("i1") > 0).cast("long"))
    vc = F.sum(((F.col("i1") > 0) & (F.col("i2r") > 0)).cast("long"))
    vcp = F.sum(
        ((F.col("i1") > 0) & (F.col("i2r") > 0) & (F.col("i3r") > 0)).cast("long")
    )
    return st2.agg(
        F.count(F.lit(1)).alias("n_users"),
        v.alias("n_view"),
        vc.alias("n_view_click"),
        vcp.alias("n_full_funnel"),
        F.round(vc / F.greatest(v, F.lit(1)).cast("double"), 6).alias("view_to_click"),
        F.round(vcp / F.greatest(vc, F.lit(1)).cast("double"), 6).alias(
            "click_to_purchase"
        ),
    )


# ---------------------------------------------------------------------------
# TPC-H breadth batch (round 6 continuation) — the classic decision-support
# shapes the registry still lacked, adapted to the driver schema (no
# partsupp / shipmode / commitdate / phone columns; adaptations documented
# per query).  Reference parity: shifu ships its eval/stats pipelines over
# Pig relational algebra (JOIN/GROUP/FILTER — e.g. core/src/main/pig/*.pig);
# these queries prove the same relational surface in Spark form at TPC-H
# plan-shape diversity.  Determinism: every money sum accumulates in
# DECIMAL(38,10) and is rounded AFTER the cast to double, so partition
# order cannot move the hash (NOTES determinism rules).
# ---------------------------------------------------------------------------


@query(
    "tpch_q6_forecast_revenue",
    """
SELECT round(sum(cast(l_extendedprice * l_discount AS DECIMAL(38,10)))::DOUBLE, 4)
         AS revenue,
       count(*)::BIGINT AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    stage="query",
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the pure predicate-pushdown
    showcase — a conjunctive range filter on three columns and a single
    global aggregate.  Every predicate and the 2-column projection reach
    the parquet scan (PushedFilters + ReadSchema); the plan is one
    whole-stage-codegen scan with a 1-row partial-agg exchange.  At
    100 TB this is min/max footer pruning + a columnar scan — no
    shuffle of data-scale rows at all."""
    li = _t(spark, sf_dir, "lineitem")
    f = (
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.filter(f).agg(
        F.round(
            F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(38,10)")).cast("double"),
            4,
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "tpch_q7_volume_shipping",
    """
SELECT supp_nation, cust_nation, l_year,
  round(sum(volume)::DOUBLE, 4) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate)::INT AS l_year,
         cast(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10)) AS volume
  FROM supplier, lineitem, orders, customer, nation n1, nation n2
  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
    AND c_nationkey = n2.n_nationkey
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
    stage="query",
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): bilateral trade volume between two
    nations by year — the canonical DISJUNCTIVE cross-table join
    predicate (the (n1,n2)|(n2,n1) pair condition can't be pushed to
    either side alone).  Spark-first: supplier and customer are
    pre-filtered to the two nations and BROADCAST tagged with their
    nation name, so the pair disjunction evaluates inside the one
    data-scale join pipeline (lineitem ⋈ orders); year extraction is a
    scan-side expression.  No second shuffle: the final groupBy is
    8-group catalog-scale."""
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1998-01-01").cast("timestamp")
    nations = ("NATION_1", "NATION_2")
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name").isin(*nations))
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    )
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,10)")
    j = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(
            ((F.col("supp_nation") == nations[0]) & (F.col("cust_nation") == nations[1]))
            | ((F.col("supp_nation") == nations[1]) & (F.col("cust_nation") == nations[0]))
        )
    )
    return (
        j.select("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"), vol.alias("volume"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum("volume").cast("double"), 4).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "tpch_q10_returned_items",
    """
SELECT c_custkey, c_name,
  round(sum(cast(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10)))::DOUBLE, 4)
    AS revenue,
  round(c_acctbal, 4) AS c_acctbal, n_name
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
""",
    stage="query",
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): top-20 customers by lost
    revenue on returned lineitems in a quarter.  Spark-first: the
    returnflag filter pushes into the lineitem scan and the quarter
    filter into orders; customer⋈nation broadcasts onto the aggregate
    output side.  Aggregation keys on the customer tuple, so the one
    data-scale shuffle is the orderkey join; top-20 is
    TakeOrderedAndProject.  (Schema has no c_address/c_comment — the
    surviving output columns are projected.)"""
    lo = F.lit("1996-10-01").cast("timestamp")
    hi = F.lit("1997-01-01").cast("timestamp")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .select("o_orderkey", "o_custkey")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_cust = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(rev.cast("decimal(38,10)")).alias("rev"))
    )
    return (
        per_cust.join(F.broadcast(cust), per_cust.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .select(
            "c_custkey",
            "c_name",
            F.round(F.col("rev").cast("double"), 4).alias("revenue"),
            F.round("c_acctbal", 4).alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "tpch_q13_order_count_distribution",
    """
WITH c_orders AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT c_count::BIGINT AS c_count, count(*)::BIGINT AS custdist
FROM c_orders GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
    stage="query",
)
def tpch_q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution): the double-
    aggregation histogram over a LEFT OUTER join — customers with zero
    qualifying orders must appear in the c_count=0 bucket, so the join
    predicate (priority exclusion, the schema's analog of Q13's comment
    filter) rides the JOIN CONDITION, not a WHERE (a post-filter would
    silently drop the NULL-extended rows).  Spark-first: one shuffle on
    custkey for join+count, then a catalog-sized histogram groupBy."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")
    j = cust.join(
        orders,
        (cust.c_custkey == orders.o_custkey) & (orders.o_orderpriority != "1-URGENT"),
        "left_outer",
    )
    per_cust = j.groupBy("c_custkey").agg(F.count("o_orderkey").alias("c_count"))
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "tpch_q14_promo_effect",
    """
SELECT round(
  100.0 * sum(CASE WHEN p_type = 'PROMO'
        THEN cast(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))
        ELSE cast(0 AS DECIMAL(38,10)) END)::DOUBLE
  / sum(cast(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10)))::DOUBLE,
  6) AS promo_revenue_pct,
  count(*)::BIGINT AS n_lines
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
""",
    stage="query",
)
def tpch_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): conditional-aggregation ratio — the
    share of one month's revenue from PROMO-type parts.  Spark-first:
    part is a catalog dim, BROADCAST onto the month-pruned lineitem
    scan; both sums accumulate in DECIMAL(38,10) and the ratio is one
    double division of bit-identical operands (100.0*x/y associates
    identically on both engines), so the rounded percentage hashes
    stably."""
    lo = F.lit("1996-09-01").cast("timestamp")
    hi = F.lit("1996-10-01").cast("timestamp")
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .select("l_partkey", "l_extendedprice", "l_discount")
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,10)")
    zero = F.lit(0).cast("decimal(38,10)")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return j.agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)).cast("double")
            / F.sum(rev).cast("double"),
            6,
        ).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "tpch_q15_top_supplier",
    """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
    round(sum(cast(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10)))::DOUBLE, 4)
      AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier, revenue
WHERE s_suppkey = supplier_no
  AND total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
""",
    stage="query",
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): join-back-against-a-scalar-aggregate —
    the supplier(s) whose quarterly revenue equals the global max.
    Spark-first: the per-supplier revenue relation is aggregate-output-
    sized (one row per supplier), so the scalar max joins back as a
    1-row BROADCAST cross join, and supplier itself broadcasts; the only
    data-scale work is the quarter-pruned lineitem scan + one suppkey
    aggregation.  Revenue is rounded to 4dp BEFORE the max/equality on
    both engines, so the float equality is exact-by-construction."""
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1996-04-01").cast("timestamp")
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .select("l_suppkey", "l_extendedprice", "l_discount")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(rev.cast("decimal(38,10)")).cast("double"), 4).alias("total_revenue")
    )
    revenue = revenue.persist()
    try:
        mx = revenue.agg(F.max("total_revenue").alias("mx"))
        supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
        out = (
            revenue.join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
            .join(F.broadcast(supp), F.col("supplier_no") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name", "total_revenue")
            .orderBy("s_suppkey")
        )
        return _materialize_release(out, [revenue])
    except BaseException:
        revenue.unpersist()
        raise


@query(
    "tpch_q19_disjunctive_revenue",
    """
SELECT round(sum(cast(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10)))::DOUBLE, 4)
         AS revenue,
       count(*)::BIGINT AS n_lines
FROM lineitem, part
WHERE p_partkey = l_partkey AND (
     (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
  OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
  OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30))
""",
    stage="query",
)
def tpch_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): the disjunctive cross-table
    predicate stress — three (brand, size-range, quantity-range)
    conjuncts OR-ed together, each mixing part and lineitem columns so
    no single-table residual can represent the whole filter.  (Schema
    has no p_container — p_size ranges stand in.)  Spark-first: part is
    BROADCAST and the full disjunction rides the join condition;
    Catalyst still derives the implied l_quantity ∈ [1,30] range
    toward the scan, and the broadcast hash join evaluates the residual
    per probe with zero shuffles."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q, sz, br = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    disj = (
        ((br == "Brand#1") & sz.between(1, 5) & q.between(1, 11))
        | ((br == "Brand#2") & sz.between(1, 10) & q.between(10, 20))
        | ((br == "Brand#3") & sz.between(1, 15) & q.between(20, 30))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), (li.l_partkey == part.p_partkey) & disj)
        .agg(
            F.round(F.sum(rev.cast("decimal(38,10)")).cast("double"), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "tpch_q8_market_share",
    """
SELECT o_year,
  round(sum(CASE WHEN nation = 'NATION_9' THEN volume
                 ELSE cast(0 AS DECIMAL(38,10)) END)::DOUBLE
        / sum(volume)::DOUBLE, 6) AS mkt_share,
  count(*)::BIGINT AS n_lines
FROM (
  SELECT year(o_orderdate)::INT AS o_year,
         cast(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10)) AS volume,
         n2.n_name AS nation
  FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
    AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    AND p_type = 'PROMO'
) all_nations
GROUP BY o_year ORDER BY o_year
""",
    stage="query",
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): NATION_9's share of PROMO-part
    revenue sold into ASIA, by order year — a conditional-sum ratio over
    an 8-table star.  Spark-first: all five dims (part filtered to
    PROMO, supplier tagged with its nation name, customer semi-joined to
    ASIA via nation⋈region) BROADCAST; the only data-scale shuffle is
    lineitem⋈orders; numerator and denominator accumulate in
    DECIMAL(38,10) within ONE aggregate pass (no second scan) and the
    share is a single double division of bit-identical operands."""
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1998-01-01").cast("timestamp")
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    nat = _t(spark, sf_dir, "nation")
    asia_nat = (
        nat.join(
            _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("n_nationkey").alias("asia_nationkey"))
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(asia_nat), F.col("c_nationkey") == F.col("asia_nationkey"))
        .select("c_custkey")
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,10)")
    zero = F.lit(0).cast("decimal(38,10)")
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    )
    return (
        j.select(F.year("o_orderdate").alias("o_year"), vol.alias("volume"), "nation")
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_9", F.col("volume")).otherwise(zero)).cast("double")
                / F.sum("volume").cast("double"),
                6,
            ).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("o_year")
    )


@query(
    "tpch_q9_product_profit",
    """
SELECT nation, o_year, round(sum(amount)::DOUBLE, 4) AS profit
FROM (
  SELECT n_name AS nation, year(o_orderdate)::INT AS o_year,
         cast(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10)) AS amount
  FROM part, supplier, lineitem, orders, nation
  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
    AND p_name LIKE '%red%'
) profit
GROUP BY nation, o_year ORDER BY nation, o_year DESC
""",
    stage="query",
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit): revenue on parts whose name
    contains a color token, by supplier nation and order year.  (Schema
    has no partsupp.ps_supplycost, so amount omits the supply-cost term
    — the join/aggregation shape is what's under test.)  Spark-first:
    the LIKE-filtered part set and nation-tagged supplier BROADCAST; the
    one data-scale shuffle is lineitem⋈orders; group count is bounded
    by nations×years."""
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    amount = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,10)")
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
    )
    return (
        j.select("nation", F.year("o_orderdate").alias("o_year"), amount.alias("amount"))
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount").cast("double"), 4).alias("profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@query(
    "tpch_q16_supplier_relation",
    """
SELECT p_brand, p_type, p_size,
  count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
FROM lineitem, part
WHERE p_partkey = l_partkey AND p_brand <> 'Brand#4'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
    stage="query",
)
def tpch_q16_supplier_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship): distinct-supplier counts
    per (brand, type, size) with a NOT-IN supplier exclusion.  (Schema
    has no partsupp — the part↔supplier relation is derived from
    lineitem, and negative account balance stands in for the
    customer-complaint comment filter.)  Spark-first: the excluded-
    supplier set is catalog-sized, so NOT IN compiles to a BROADCAST
    left_anti join (no null-aware shuffle — s_suppkey is a non-null
    key); part is broadcast with the brand/size filters pushed to its
    scan; count(DISTINCT) runs as the standard two-level partial
    aggregate."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = (
        _t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#4")
            & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad_supp = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(bad_supp), li.l_suppkey == bad_supp.s_suppkey, "left_anti")
    )
    return (
        j.groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@query(
    "tpch_q17_small_qty_revenue",
    """
WITH pq AS (
  SELECT l_partkey AS a_partkey,
    0.2 * (sum(cast(l_quantity AS DECIMAL(38,10)))::DOUBLE / count(*)) AS qty_thresh
  FROM lineitem GROUP BY l_partkey
)
SELECT round(sum(cast(l_extendedprice AS DECIMAL(38,10)))::DOUBLE / 7.0, 4)
         AS avg_yearly,
       count(*)::BIGINT AS n_lines
FROM lineitem, part, pq
WHERE p_partkey = l_partkey AND a_partkey = l_partkey
  AND p_brand = 'Brand#2' AND p_size < 10
  AND l_quantity < qty_thresh
""",
    stage="query",
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): the correlated-scalar-
    subquery shape — lineitems below 20% of their part's average
    quantity.  (p_size < 10 stands in for the container filter.)
    Spark-first: the Brand#2/size part set BROADCASTS onto lineitem
    FIRST, so the per-part average (the decorrelated aggregate) is
    computed over the part-pruned slice only — one scan, one broadcast
    join back of the aggregate-output-sized threshold table; nothing
    data-scale shuffles twice.  The threshold is decimal-sum/count in
    double (bit-identical cross-engine), so the < compare is exact."""
    part = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#2") & (F.col("p_size") < 10))
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    li_f = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    li_f = li_f.persist()
    try:
        thresh = li_f.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
            (
                F.lit(0.2)
                * (
                    F.sum(F.col("l_quantity").cast("decimal(38,10)")).cast("double")
                    / F.count(F.lit(1))
                )
            ).alias("qty_thresh")
        )
        out = (
            li_f.join(F.broadcast(thresh), F.col("l_partkey") == F.col("a_partkey"))
            .filter(F.col("l_quantity") < F.col("qty_thresh"))
            .agg(
                F.round(
                    F.sum(F.col("l_extendedprice").cast("decimal(38,10)")).cast("double")
                    / F.lit(7.0),
                    4,
                ).alias("avg_yearly"),
                F.count(F.lit(1)).alias("n_lines"),
            )
        )
        return _materialize_release(out, [li_f])
    except BaseException:
        li_f.unpersist()
        raise


@query(
    "tpch_q21_waiting_supplier",
    """
SELECT s_name, count(*)::BIGINT AS numwait
FROM supplier, lineitem l1, orders
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
  AND EXISTS (SELECT * FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT * FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20
""",
    stage="query",
)
def tpch_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting): the EXISTS +
    NOT-EXISTS double-correlation — suppliers who were the ONLY late
    supplier on a multi-supplier finalized order.  (Lateness is
    l_shipdate > o_orderdate + 90 days — the schema has no
    commit/receipt dates.)  Spark-first: instead of two correlated
    self-joins of the fact table (three lineitem shuffles), ONE
    groupBy(orderkey) computes the sufficient per-order statistic —
    distinct supplier count, distinct LATE supplier count, late-line
    count — and the qualifying orders (≥2 suppliers, exactly 1 late
    one) emit their lone late supplier.  One data-scale shuffle total;
    the count of late lines per qualifying order reproduces the
    row-multiplicity of the classic l1-join formulation exactly."""
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey", "l_suppkey", late.alias("is_late")
    )
    per_order = j.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias("n_late_supps"),
        F.max(F.when(F.col("is_late"), F.col("l_suppkey"))).alias("late_supp"),
        F.sum(F.col("is_late").cast("long")).alias("n_late_lines"),
    )
    winners = per_order.filter(
        (F.col("n_supps") >= 2) & (F.col("n_late_supps") == 1)
    ).select("late_supp", "n_late_lines")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        winners.join(F.broadcast(supp), winners.late_supp == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("n_late_lines").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@query(
    "tpch_q22_sales_opportunity",
    """
WITH pool AS (
  SELECT c_custkey, c_nationkey, c_acctbal FROM customer
  WHERE c_nationkey IN (10, 11, 12, 13, 14, 15, 16)
), avg_bal AS (
  SELECT sum(cast(c_acctbal AS DECIMAL(38,10)))::DOUBLE / count(*) AS ab
  FROM pool WHERE c_acctbal > 0.0
)
SELECT c_nationkey::INT AS nationkey, count(*)::BIGINT AS numcust,
  round(sum(cast(c_acctbal AS DECIMAL(38,10)))::DOUBLE, 4) AS totacctbal
FROM pool, avg_bal
WHERE c_acctbal > ab
  AND NOT EXISTS (SELECT * FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
GROUP BY c_nationkey ORDER BY nationkey
""",
    stage="query",
)
def tpch_q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity): above-average-balance
    customers in a nation group with no qualifying orders — scalar
    subquery + anti-join.  (Nation keys stand in for phone country
    codes; every synthetic customer has orders, so the anti-join
    excludes customers with URGENT orders instead — same shape, live
    selectivity.)  Spark-first: the average balance is a 1-row
    BROADCAST; the urgent-customer key set is distinct-compressed and
    broadcast for the left_anti; one narrow customer scan feeds both
    the average and the final catalog-sized groupBy."""
    pool = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey").isin(10, 11, 12, 13, 14, 15, 16))
        .select("c_custkey", "c_nationkey", "c_acctbal")
    )
    pool = pool.persist()
    try:
        avg_bal = pool.filter(F.col("c_acctbal") > 0.0).agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(38,10)")).cast("double")
                / F.count(F.lit(1))
            ).alias("ab")
        )
        urgent = (
            _t(spark, sf_dir, "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_custkey")
            .distinct()
        )
        out = (
            pool.join(F.broadcast(avg_bal))
            .filter(F.col("c_acctbal") > F.col("ab"))
            .join(F.broadcast(urgent), pool.c_custkey == urgent.o_custkey, "left_anti")
            .groupBy(F.col("c_nationkey").cast("int").alias("nationkey"))
            .agg(
                F.count(F.lit(1)).alias("numcust"),
                F.round(
                    F.sum(F.col("c_acctbal").cast("decimal(38,10)")).cast("double"), 4
                ).alias("totacctbal"),
            )
            .orderBy("nationkey")
        )
        return _materialize_release(out, [pool])
    except BaseException:
        pool.unpersist()
        raise


# ---------------------------------------------------------------------------
# Round-6 continuation: robust profiling, graph census, truncation recall
# ---------------------------------------------------------------------------


def _robust_stats_oracle() -> str:
    from shifu_spark.operators.stats import robust_stats_oracle_sql

    return robust_stats_oracle_sql("lineitem", _STATS_COLS) + "\nORDER BY column_name"


@query("robust_column_stats", stage="stats")
def robust_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-column profile (quartiles / MAD / Tukey fences /
    outlier counts) — the heavy-tail complement of the moment-based
    `column_stats` (reference: ColumnStatsCalculator mean/σ profile;
    robust location/scale is what that profile misses on skewed
    columns).  Two wide-aggregate passes; exact quarter-micro integer
    percentile domain (operators/stats.robust_stats_df)."""
    from shifu_spark.operators.stats import robust_stats_df

    li = _t(spark, sf_dir, "lineitem")
    return robust_stats_df(li, _STATS_COLS).orderBy("column_name")


ORACLES["robust_column_stats"] = _robust_stats_oracle()


@query(
    "triangle_count_parts",
    """
WITH pp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
e AS (SELECT DISTINCT x.p AS a, y.p AS b FROM pp x JOIN pp y ON x.o = y.o AND x.p < y.p),
deg AS (SELECT node, count(*) AS d
        FROM (SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
        GROUP BY node),
tri AS (SELECT count(*) AS t
        FROM e e1 JOIN e e2 ON e1.b = e2.a
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
SELECT (SELECT count(*) FROM deg)::BIGINT AS n_nodes,
       (SELECT count(*) FROM e)::BIGINT AS n_edges,
       (SELECT sum(d * (d - 1) // 2) FROM deg)::BIGINT AS n_wedges,
       (SELECT t FROM tri)::BIGINT AS n_triangles,
       round(3.0 * (SELECT t FROM tri) / (SELECT sum(d * (d - 1) // 2) FROM deg), 6)
         AS clustering
""",
    stage="query",
)
def triangle_count_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census + global clustering coefficient of the part
    co-purchase graph (parts sharing an order).  The static-graph
    complement of `pagerank_part_supplier`: triangles via DEGREE-ORDERED
    EDGE ORIENTATION (operators/graph.triangle_count_df) — out-lists are
    O(√E)-bounded so the wedge self-join survives power-law degree at
    scale; the ORACLE is the independent a<b<c three-way-join census.
    Edge derivation is a per-order self-join — group size bounded by
    lines-per-order (≤7 in TPC-H-shaped data), so the co-occurrence
    expansion is constant-factor, not quadratic-in-corpus."""
    from shifu_spark.operators.graph import triangle_count_df

    pp = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    p2 = pp.select(F.col("o"), F.col("p").alias("p2"))
    edges = (
        pp.join(p2, "o")
        .filter(F.col("p") < F.col("p2"))
        .select(F.col("p").alias("a"), F.col("p2").alias("b"))
        .distinct()
    )
    return triangle_count_df(edges)


def _matryoshka_oracle(dims_list: list[int], k: int = 10) -> str:
    branches = []
    for d in dims_list:
        branches.append(f"""
SELECT {d} AS dims,
  (SELECT count(*) FROM q)::BIGINT AS n_queries,
  (SELECT count(*) FROM (
     SELECT query_id, neighbor_id FROM ranked_{d} WHERE rank <= {k}
     INTERSECT ALL
     SELECT query_id, neighbor_id FROM ranked_full WHERE rank <= {k}
  ) h_{d})::BIGINT AS n_hits""")
    ctes = [
        "q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10)",
        """ranked_full AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    row_number() OVER (PARTITION BY q.query_id ORDER BY
      list_dot_product(q.qv, e.embedding::DOUBLE[]) /
      (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) DESC,
      e.vec_id ASC) AS rank
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id)""",
    ]
    for d in dims_list:
        ctes.append(f"""ranked_{d} AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    row_number() OVER (PARTITION BY q.query_id ORDER BY
      list_dot_product(q.qv[1:{d}], (e.embedding::DOUBLE[])[1:{d}]) /
      (sqrt(list_dot_product(q.qv[1:{d}], q.qv[1:{d}])) * sqrt(list_dot_product((e.embedding::DOUBLE[])[1:{d}], (e.embedding::DOUBLE[])[1:{d}]))) DESC,
      e.vec_id ASC) AS rank
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id)""")
    return (
        "WITH " + ",\n".join(ctes) + "\nSELECT dims, n_queries, n_hits,\n"
        f"  round(n_hits / (n_queries * {float(k)!r}), 6) AS recall\n"
        "FROM (" + "\nUNION ALL\n".join(branches) + ") r ORDER BY dims"
    )


_MRL_DIMS = [8, 16, 32, 64]


@query("matryoshka_recall", _matryoshka_oracle(_MRL_DIMS), stage="similarity")
def matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (prefix-truncation) retrieval recall@10 at widths
    8/16/32/64 over the 64-d corpus — the dimension axis of the ANN
    quality ladder (`ann_recall_report` covers the candidate-pruning
    axis).  The 64-wide row is the recall-1.0 self-check.  Operator:
    operators/similarity.matryoshka_recall_df (broadcast-query
    brute-force per width, left_semi hit count, exact integer ratio)."""
    from shifu_spark.operators.similarity import matryoshka_recall_df

    emb = _emb(spark, sf_dir)
    return matryoshka_recall_df(emb, F.col("vec_id") < 10, _MRL_DIMS, k=10)


@query(
    "order_status_priority_cube",
    """
SELECT coalesce(o_orderstatus, '(all)') AS status,
  coalesce(o_orderpriority, '(all)') AS priority,
  CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS INT) AS gid,
  count(*)::BIGINT AS n_orders,
  round(sum(cast(o_totalprice AS DECIMAL(38,10)))::DOUBLE, 4) AS revenue
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY gid, status, priority
""",
    stage="query",
)
def order_status_priority_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all four marginals of status × priority) —
    completes the grouping-sets family next to ROLLUP
    (`revenue_rollup_region_nation`) and PIVOT.  Spark-first: one
    Expand fans each row to its 4 grouping sets MAP-SIDE, partial
    aggregation bounds the exchange at aggregate-output size;
    grouping_id disambiguates subtotal rows from real NULL keys."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(38,10)")).cast("double"), 4
            ).alias("revenue"),
            F.grouping_id().cast("int").alias("gid"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("(all)")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("(all)")).alias("priority"),
            "gid",
            "n_orders",
            "revenue",
        )
        .orderBy("gid", "status", "priority")
    )


@query(
    "customer_order_gaps",
    """
WITH g AS (
  SELECT o_custkey,
    epoch_us(o_orderdate)
      - lag(epoch_us(o_orderdate)) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey)
      AS gap_us
  FROM orders
)
SELECT c_nationkey::INT AS nationkey,
  count(gap_us)::BIGINT AS n_gaps,
  round(sum(gap_us // 86400000000)::DOUBLE / count(gap_us), 6) AS mean_gap_days,
  (max(gap_us) // 86400000000)::BIGINT AS max_gap_days
FROM g JOIN customer ON o_custkey = c_custkey
WHERE gap_us IS NOT NULL
GROUP BY c_nationkey ORDER BY nationkey
""",
    stage="query",
)
def customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order gap profile (lag window): per-customer consecutive
    order-date gaps rolled up to a per-nation report — the
    recency/frequency building block (the lead/lag complement of the
    rolling-frame `events_moving_avg`).  Spark-first: the window
    partitions by custkey (bounded per key, shuffles once on the same
    key the rollup joins on); gaps are exact integer micros → integer
    days via `div`; the mean is one double division of exact integer
    sums.  Ties (same-day orders) are ordered by o_orderkey so lag is
    deterministic on both engines."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    us = F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    g = orders.select(
        "o_custkey", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    return (
        g.join(F.broadcast(cust), g.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_nationkey").cast("int").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(
                F.sum(F.expr("gap_us div 86400000000")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_gap_days"),
            F.expr("max(gap_us) div 86400000000").alias("max_gap_days"),
        )
        .orderBy("nationkey")
    )


@query(
    "salted_skew_join_revenue",
    """
SELECT o_orderpriority AS priority,
  count(*)::BIGINT AS n_lines,
  round(sum(cast(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10)))::DOUBLE, 4)
    AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority ORDER BY priority
""",
    stage="query",
)
def salted_skew_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large×large equi-join through the MANUAL salting path
    (operators/join.salted_join): the skewed side carries a
    content-derived salt (md5 of key+linenumber), the other side
    replicates n_salts ways, and the join fans each hot key over
    n_salts reducers — the mitigation for skew AQE can't see
    (stream-static joins, non-adaptive engines).  The ORACLE is the
    PLAIN join: salting must be output-invariant, so the oracle-match
    itself proves the rewrite changes the physical fan-out and nothing
    else.  (The gate data is uniform; the technique's effect is pinned
    by the salt-spread unit test, the contract here is correctness.)"""
    from shifu_spark.operators.join import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    j = salted_join(li, orders, "l_orderkey", "o_orderkey", salt_on="l_linenumber")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        j.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum(rev.cast("decimal(38,10)")).cast("double"), 4).alias("revenue"),
        )
        .orderBy("priority")
    )


@query(
    "fuzzy_vocab_pairs",
    """
WITH typos AS (
  SELECT CASE WHEN doc_id % 5 = 0 AND length(string_split(text, ' ')[1]) > 0 THEN
    substr(string_split(text, ' ')[1], 1,
           (doc_id % length(string_split(text, ' ')[1]))::INT)
    || substr(string_split(text, ' ')[1],
              (doc_id % length(string_split(text, ' ')[1]))::INT + 2)
  END AS w
  FROM documents WHERE doc_id % 5 = 0
),
words AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
  UNION ALL SELECT w FROM typos
),
v AS (SELECT DISTINCT w FROM words WHERE w IS NOT NULL AND w <> ''),
-- exact O(V^2) scan with a CODEPOINT-level distance-1 predicate:
-- DuckDB's levenshtein counts BYTES (levenshtein('a','😀') = 4) while
-- Spark's counts codepoints (= 1, the principled metric) — but DuckDB's
-- length/substr ARE codepoint-based, so the <=1 test is expressed
-- directly: distinct words are within codepoint distance 1 iff equal
-- length and identical outside one position (substitution), or lengths
-- differ by 1 and deleting one codepoint of the longer yields the
-- shorter (insertion/deletion)
pairs AS (
  SELECT a.w AS word_a, b.w AS word_b,
         CASE WHEN length(a.w) >= length(b.w) THEN a.w ELSE b.w END AS lw,
         CASE WHEN length(a.w) >= length(b.w) THEN b.w ELSE a.w END AS sw
  FROM v a JOIN v b ON a.w < b.w
  WHERE abs(length(a.w) - length(b.w)) <= 1)
SELECT word_a, word_b, 1::INT AS dist FROM pairs
WHERE (length(lw) = length(sw)
       AND len(list_filter(range(1, length(lw) + 1),
             i -> substr(lw, 1, i - 1) = substr(sw, 1, i - 1)
              AND substr(lw, i + 1, length(lw)) = substr(sw, i + 1, length(sw)))) > 0)
   OR (length(lw) = length(sw) + 1
       AND len(list_filter(range(1, length(lw) + 1),
             i -> substr(lw, 1, i - 1) || substr(lw, i + 1, length(lw)) = sw)) > 0)
ORDER BY word_a, word_b
""",
    stage="dedup",
)
def fuzzy_vocab_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy vocabulary matching (spelling-variant / OCR-noise
    detection): all word pairs within edit distance 1 over the corpus
    vocabulary, via DELETION-NEIGHBORHOOD BLOCKING + exact verify
    (operators/dedup.edit_distance_pairs_df — FastSS/SymSpell).  The
    corpus vocabulary has no natural near-misses, so single-deletion
    typos are injected deterministically from doc_id (every 5th doc
    contributes its first token minus the (doc_id mod len)-th char —
    the codec-synth pattern).  The ORACLE is an O(V²) exact scan with a
    CODEPOINT-level distance-1 predicate (DuckDB's levenshtein counts
    bytes, Spark's counts codepoints — the predicate restates the ≤1
    test on DuckDB's codepoint substr/length) — quadratic exact vs
    linear-blocked is exactly the recall contract under test."""
    from shifu_spark.operators.dedup import edit_distance_pairs_df

    docs = _docs(spark, sf_dir)
    first = F.split(F.col("text"), " ").getItem(0)
    # try_mod: a zero-length first token (empty/whitespace-only doc)
    # cannot host a deletion typo — NULL position, NULL typo, filtered
    # below. A bare % is REMAINDER_BY_ZERO under ANSI and kills the job.
    pos = F.try_mod(F.col("doc_id"), F.length(first)).cast("int")
    typo = F.concat(
        F.substring(first, F.lit(1), pos),
        first.substr(pos + 2, F.length(first)),
    )
    words = docs.select(F.explode(F.split(F.col("text"), " ")).alias("w")).unionAll(
        docs.filter(F.col("doc_id") % 5 == 0).select(typo.alias("w"))
    )
    vocab = words.filter((F.col("w").isNotNull()) & (F.col("w") != "")).distinct()
    return edit_distance_pairs_df(vocab, "w").orderBy("word_a", "word_b")


@query(
    "cdc_merge_snapshot",
    """
WITH snap AS (
  SELECT c_custkey, c_mktsegment, c_acctbal, 0 AS seq, 'I' AS op FROM customer
), upd AS (
  SELECT c_custkey, c_mktsegment, c_acctbal + 100 AS c_acctbal, 1 AS seq, 'U' AS op
  FROM customer WHERE c_custkey % 5 = 0
), del AS (
  SELECT c_custkey, c_mktsegment, c_acctbal, 2 AS seq, 'D' AS op
  FROM customer WHERE c_custkey % 7 = 0
), u AS (
  SELECT * FROM snap UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM del
), r AS (
  SELECT *, row_number() OVER (PARTITION BY c_custkey
                               ORDER BY seq DESC,
                                 CASE op WHEN 'D' THEN 2 WHEN 'U' THEN 1
                                         ELSE 0 END DESC,
                                 c_mktsegment DESC NULLS LAST,
                                 c_acctbal DESC NULLS LAST) AS rn
  FROM u
)
SELECT c_mktsegment AS segment, count(*)::BIGINT AS n_customers,
  round(sum(cast(c_acctbal AS DECIMAL(38,10)))::DOUBLE, 4) AS total_acctbal
FROM r WHERE rn = 1 AND op <> 'D'
GROUP BY c_mktsegment ORDER BY segment
""",
    stage="query",
)
def cdc_merge_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch CDC MERGE (the Delta/Iceberg `MERGE INTO` semantics as a
    pure plan — operators/cdc.cdc_merge): apply an upsert+delete change
    set to the customer snapshot; latest sequence per key wins, deletes
    drop the key.  Changes are synthesized deterministically (every 5th
    key a balance update at seq 1, every 7th a delete at seq 2 — so
    every 35th key exercises update-then-delete ordering).  One hash
    shuffle on the key; per-key partition = snapshot row + its changes,
    never data-scale.  The batch twin of the streaming gold-table
    upsert."""
    from shifu_spark.operators.cdc import cdc_merge

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    upd = (
        cust.filter(F.col("c_custkey") % 5 == 0)
        .withColumn("c_acctbal", F.col("c_acctbal") + 100)
        .withColumn("seq", F.lit(1).cast("long"))
        .withColumn("op", F.lit("U"))
    )
    dele = (
        cust.filter(F.col("c_custkey") % 7 == 0)
        .withColumn("seq", F.lit(2).cast("long"))
        .withColumn("op", F.lit("D"))
    )
    merged = cdc_merge(cust, upd.unionAll(dele), "c_custkey")
    return (
        merged.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(38,10)")).cast("double"), 4
            ).alias("total_acctbal"),
        )
        .orderBy("segment")
    )


@query(
    "scd2_segment_history",
    """
WITH ch AS (
  SELECT c_custkey, c_mktsegment AS segment, c_custkey::BIGINT AS ts_us FROM customer
  UNION ALL
  SELECT c_custkey, 'X-' || c_mktsegment,
         86400000000 * (1 + c_custkey % 50) FROM customer WHERE c_custkey % 3 = 0
  UNION ALL
  SELECT c_custkey, 'Y-' || c_mktsegment,
         86400000000 * (60 + c_custkey % 50) FROM customer WHERE c_custkey % 9 = 0
), iv AS (
  SELECT c_custkey, segment, ts_us AS valid_from,
    lead(ts_us) OVER (PARTITION BY c_custkey ORDER BY ts_us, segment) AS valid_to
  FROM ch
)
SELECT (valid_to IS NULL) AS is_current, count(*)::BIGINT AS n_intervals,
  coalesce(sum((valid_to - valid_from) // 86400000000), 0)::BIGINT AS total_days
FROM iv GROUP BY is_current ORDER BY is_current
""",
    stage="query",
)
def scd2_segment_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build (operators/cdc.scd2_intervals): a
    per-customer segment-change stream becomes validity intervals
    [valid_from, valid_to) with the open interval flagged current —
    the standard dimension-history shape (Kimball SCD2).  Changes are
    synthesized deterministically in integer micros (base record at
    ts=custkey µs; every 3rd key changes segment after 1+k%50 days;
    every 9th again after 60+k%50 days), so interval lengths are exact
    integer day counts.  One lead() window per key."""
    from shifu_spark.operators.cdc import scd2_intervals

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    day = 86400000000
    c0 = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.col("c_custkey").cast("long").alias("ts_us"),
    )
    c1 = (
        cust.filter(F.col("c_custkey") % 3 == 0)
        .select(
            "c_custkey",
            F.concat(F.lit("X-"), F.col("c_mktsegment")).alias("segment"),
            (F.lit(day) * (1 + F.col("c_custkey") % 50)).cast("long").alias("ts_us"),
        )
    )
    c2 = (
        cust.filter(F.col("c_custkey") % 9 == 0)
        .select(
            "c_custkey",
            F.concat(F.lit("Y-"), F.col("c_mktsegment")).alias("segment"),
            (F.lit(day) * (60 + F.col("c_custkey") % 50)).cast("long").alias("ts_us"),
        )
    )
    iv = scd2_intervals(c0.unionAll(c1).unionAll(c2), "c_custkey", ts_col="ts_us")
    return (
        iv.groupBy("is_current")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.coalesce(
                F.sum(F.expr(f"(valid_to - valid_from) div {day}")), F.lit(0)
            ).cast("long").alias("total_days"),
        )
        .orderBy("is_current")
    )


@query(
    "streaming_exact_dedup",
    """
SELECT event_type, count(*)::BIGINT AS n_events,
  count(DISTINCT user_id)::BIGINT AS n_users,
  round(sum(cast(value AS DECIMAL(38,10)))::DOUBLE, 4) AS total_value
FROM events GROUP BY event_type ORDER BY event_type
""",
    stage="streaming",
)
def streaming_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-ID deduplication — the 15th streaming pattern
    and the exact-key sibling of `streaming_minhash_dedup`: at-least-
    once delivery is simulated by deterministically DOUBLING every 3rd
    event in-row (explode over a 1-or-2-element array), then
    ``dropDuplicatesWithinWatermark("event_id")`` restores
    exactly-once — the engine keeps one state row per event_id only
    within the 1-hour watermark horizon, the BOUNDED-state answer to
    unbounded-key streams (a plain dropDuplicates would grow state
    forever).  The oracle aggregates the ORIGINAL events table: the
    gate proves the dedup reconstructed it byte-for-byte."""
    s = _events_stream(spark, sf_dir)
    copies = F.when(
        F.col("event_id") % 3 == 0, F.array(F.lit(1), F.lit(2))
    ).otherwise(F.array(F.lit(1)))
    dup = s.withColumn("copy", F.explode(copies)).drop("copy")
    ded = dup.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    sink = _run_stream_to_files(
        spark, ded.select("event_id", "event_type", "user_id", "value"), "exdedup"
    )
    return (
        sink.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(
                F.sum(F.col("value").cast("decimal(38,10)")).cast("double"), 4
            ).alias("total_value"),
        )
        .orderBy("event_type")
    )


@query(
    "streaming_outer_attribution",
    """
WITH p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
wm AS (SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
              - INTERVAL 1 HOUR AS w),
emitted AS (
  SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
  FROM p JOIN c ON c.user_id = p.user_id
    AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
  UNION ALL
  SELECT p.user_id, p.event_id, NULL
  FROM p, wm
  WHERE p.ts < wm.w
    AND NOT EXISTS (SELECT 1 FROM c WHERE c.user_id = p.user_id
                    AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts)
)
SELECT (click_id IS NOT NULL) AS attributed,
  count(*)::BIGINT AS n_rows,
  count(DISTINCT purchase_id)::BIGINT AS n_purchases
FROM emitted GROUP BY attributed ORDER BY attributed
""",
    stage="streaming",
)
def streaming_outer_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join — the hardest
    core streaming-join semantic (16th pattern): purchases that find no
    click in their 30-minute window are emitted with a NULL click, but
    only once the GLOBAL watermark (min of both streams' max-ts − 1 h)
    passes the point where a match could still arrive; later unmatched
    purchases stay in state and do NOT emit in a bounded run.  The
    oracle derives that exact emission rule relationally (matched pairs
    ∪ unmatched-below-watermark) — the gate pins Spark's outer-join
    state-eviction boundary, not just the happy path."""
    s = _events_stream(spark, sf_dir)
    clicks = (
        s.where(F.col("event_type") == "click")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
    )
    purchases = (
        s.where(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
    )
    pairs = purchases.join(
        clicks,
        F.expr(
            "c_user = p_user AND c_ts >= p_ts - INTERVAL 30 MINUTES AND c_ts <= p_ts"
        ),
        "left_outer",
    ).select("purchase_id", "click_id")
    sink = _run_stream_to_files(spark, pairs, "oattr")
    return (
        sink.groupBy(F.col("click_id").isNotNull().alias("attributed"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("purchase_id").alias("n_purchases"),
        )
        .orderBy("attributed")
    )


@query(
    "busy_window_range_join",
    """
WITH pts AS (
  SELECT user_id, value, epoch_us(ts) AS pt FROM events
),
hrs AS (
  SELECT (pt // 3600000000) * 3600000000 AS hr, count(*) AS n
  FROM pts GROUP BY 1
),
top AS (SELECT hr FROM hrs ORDER BY n DESC, hr ASC LIMIT 20),
iv AS (SELECT hr, hr - 1800000000 AS lo, hr + 5400000000 AS hi FROM top)
SELECT make_timestamp(iv.hr) AS window_start,
       count(*)::BIGINT AS n_events,
       count(DISTINCT p.user_id)::BIGINT AS n_users,
       round(sum(CAST(CASE WHEN p.value IS NOT NULL AND isfinite(p.value)
                           THEN p.value END AS DECIMAL(38,10)))::DOUBLE, 4) AS total_value
FROM iv JOIN pts p ON p.pt >= iv.lo AND p.pt < iv.hi
GROUP BY iv.hr
ORDER BY window_start
""",
    stage="query",
)
def busy_window_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure RANGE join (no equi key) at scale: profile every event
    against the 20 globally busiest hours, each widened to a
    [hour−30min, hour+90min) window — overlapping windows, so the
    answer is NOT recoverable from the hourly histogram that selected
    them.  Spark would plan the raw `pt BETWEEN lo AND hi` theta join
    as BroadcastNestedLoopJoin (or CartesianProduct once the interval
    side outgrows broadcast); operators/join.range_bucket_join rewrites
    it to an ordinary hash join on a quantized cell id (intervals
    exploded across the hour cells they overlap, exact containment
    re-checked post-join), which survives a 100 TB event stream with
    a data-scale interval side.  Window selection is deterministic
    (count DESC, hour ASC tiebreak, top-20); the value sum goes
    through DECIMAL(38,10).  Timestamps are compared in exact unix
    micros (post-1970 data: `div` == floor)."""
    from shifu_spark.functions.nonvalue import is_value as _nv_is_value
    from shifu_spark.operators.join import range_bucket_join

    HOUR = 3_600_000_000
    ev = _events(spark, sf_dir).select(
        "user_id", "value", F.unix_micros("ts").alias("pt")
    )
    hrs = ev.groupBy(
        F.expr(f"(pt div {HOUR}) * {HOUR}").alias("hr")
    ).agg(F.count(F.lit(1)).alias("n"))
    top = hrs.orderBy(F.desc("n"), F.asc("hr")).limit(20).select("hr")
    iv = top.select(
        "hr",
        (F.col("hr") - F.lit(1_800_000_000)).alias("lo"),
        (F.col("hr") + F.lit(5_400_000_000)).alias("hi"),
    )
    rj = range_bucket_join(ev, iv, "pt", "lo", "hi", HOUR)
    return (
        rj.groupBy("hr")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            # non-finite values are MISSING (nulled before the DECIMAL
            # cast; the oracle's CASE mirrors it)
            F.round(
                F.sum(
                    F.when(_nv_is_value(F.col("value")), F.col("value")).cast(
                        "decimal(38,10)"
                    )
                ).cast("double"),
                4,
            ).alias("total_value"),
        )
        .select(
            F.timestamp_micros(F.col("hr")).alias("window_start"),
            "n_events",
            "n_users",
            "total_value",
        )
        .orderBy("window_start")
    )


@query(
    "rfm_customer_segments",
    """
WITH cust AS (
  SELECT o_custkey,
    ((SELECT max(epoch_us(o_orderdate)) FROM orders)
      - max(epoch_us(o_orderdate))) // 86400000000 AS rec_days,
    count(*) AS freq,
    CAST(floor(sum(CAST(o_totalprice AS DECIMAL(38,10))) * 100) AS BIGINT) AS mon_cents
  FROM orders GROUP BY o_custkey
),
q AS (
  SELECT quantile_cont(rec_days * 4, [0.25, 0.5, 0.75]) AS rq,
         quantile_cont(freq * 4, [0.25, 0.5, 0.75]) AS fq,
         quantile_cont(mon_cents * 4, [0.25, 0.5, 0.75]) AS mq
  FROM cust
),
scored AS (
  SELECT c.*,
    CASE WHEN rec_days * 4 <= rq[1] THEN 4 WHEN rec_days * 4 <= rq[2] THEN 3
         WHEN rec_days * 4 <= rq[3] THEN 2 ELSE 1 END AS r_score,
    CASE WHEN freq * 4 <= fq[1] THEN 1 WHEN freq * 4 <= fq[2] THEN 2
         WHEN freq * 4 <= fq[3] THEN 3 ELSE 4 END AS f_score,
    CASE WHEN mon_cents * 4 <= mq[1] THEN 1 WHEN mon_cents * 4 <= mq[2] THEN 2
         WHEN mon_cents * 4 <= mq[3] THEN 3 ELSE 4 END AS m_score
  FROM cust c, q
)
SELECT r_score::INT AS r_score, f_score::INT AS f_score, m_score::INT AS m_score,
  count(*)::BIGINT AS n_customers,
  round(sum(rec_days)::DOUBLE / count(*), 4) AS avg_recency_days,
  round(sum(freq)::DOUBLE / count(*), 4) AS avg_frequency,
  round(sum(CAST(mon_cents AS DECIMAL(38,10)))::DOUBLE / (count(*) * 100), 4) AS avg_monetary
FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
""",
    stage="query",
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer-value grid (recency /
    frequency / monetary, each scored 1–4 by quartile band).  The
    standard tutorial form uses a global ``ntile`` — an unpartitioned
    data-scale sort; here band boundaries come from ONE wide exact
    quartile aggregate over the per-customer rollup (bounded driver
    transfer: 9 doubles) and band assignment is a stateless CASE —
    two shuffles total (custkey rollup + segment rollup), both
    map-side-combinable.  Exactness: all three metrics live in integer
    domains (days, counts, cents via floor of the exact DECIMAL sum)
    scaled ×4 so quarter-weight type-7 interpolation lands on exact
    integers — Spark ``percentile`` and DuckDB ``quantile_cont`` agree
    bitwise (the robust_column_stats trick; quintiles would NOT work —
    0.2 weights are non-dyadic and (1−d)·a+d·b drifts an ulp at d=0.8).
    At scale swap ``percentile`` for ``percentile_approx`` and accept
    approximate band edges (documented trade, same as robust stats)."""
    DAY = 86_400_000_000
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        # o_orderdate arrives as TIMESTAMP_NTZ; the session is pinned UTC
        # so the cast preserves the wall-clock instant (same as _events)
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("od"),
        "o_totalprice",
    )
    mx = orders.agg(F.max("od").alias("mx"))
    cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("od").alias("last_od"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.col("o_totalprice").cast("decimal(38,10)")).alias("mon_dec"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "o_custkey",
            F.expr(f"(mx - last_od) div {DAY}").alias("rec_days"),
            "freq",
            F.floor(F.col("mon_dec") * 100).cast("long").alias("mon_cents"),
        )
    )
    # persist across the two actions: the quantile collect below and the
    # returned plan otherwise BOTH re-run the orders scan + per-customer
    # rollup (the docstring's "two shuffles total" was only true of one
    # action); released via _materialize_release before returning
    cust = cust.persist()
    try:
        row = cust.agg(
            F.expr("percentile(rec_days * 4, array(0.25d, 0.5d, 0.75d))").alias("rq"),
            F.expr("percentile(freq * 4, array(0.25d, 0.5d, 0.75d))").alias("fq"),
            F.expr("percentile(mon_cents * 4, array(0.25d, 0.5d, 0.75d))").alias("mq"),
        ).collect()[0]
        # unpack INSIDE the guard: an empty rollup returns NULL quantiles
        # and the map(float, None) TypeError would otherwise fire between
        # the guards, leaking the persisted rollup for the session
        rq, fq, mq = [list(map(float, v)) for v in (row.rq, row.fq, row.mq)]
    except BaseException:
        cust.unpersist()
        raise

    def band(col, qs, reverse):
        x = F.col(col) * 4
        scores = (4, 3, 2, 1) if reverse else (1, 2, 3, 4)
        return (
            F.when(x <= F.lit(qs[0]), F.lit(scores[0]))
            .when(x <= F.lit(qs[1]), F.lit(scores[1]))
            .when(x <= F.lit(qs[2]), F.lit(scores[2]))
            .otherwise(F.lit(scores[3]))
            .cast("int")
        )

    scored = cust.select(
        "rec_days",
        "freq",
        "mon_cents",
        band("rec_days", rq, reverse=True).alias("r_score"),
        band("freq", fq, reverse=False).alias("f_score"),
        band("mon_cents", mq, reverse=False).alias("m_score"),
    )
    n = F.count(F.lit(1))
    try:
        out = (
            scored.groupBy("r_score", "f_score", "m_score")
            .agg(
                n.alias("n_customers"),
                F.round(F.sum("rec_days").cast("double") / n, 4).alias("avg_recency_days"),
                F.round(F.sum("freq").cast("double") / n, 4).alias("avg_frequency"),
                F.round(
                    F.sum(F.col("mon_cents").cast("decimal(38,10)")).cast("double")
                    / (n * 100),
                    4,
                ).alias("avg_monetary"),
            )
            .orderBy("r_score", "f_score", "m_score")
        )
        return _materialize_release(out, [cust])
    except BaseException:
        cust.unpersist()
        raise


@query(
    "events_anomaly_zscore",
    """
WITH d AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day, count(*) AS n
  FROM events GROUP BY 1, 2
),
w AS (
  SELECT event_type, day, n,
    count(n) OVER win AS m,
    sum(n) OVER win AS s,
    sum(n * n) OVER win AS ss
  FROM d
  WINDOW win AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, day::BIGINT AS day, n::BIGINT AS n_events,
  CASE WHEN m >= 3 THEN round(s::DOUBLE / m, 6) END AS mean7,
  CASE WHEN m >= 3 AND (ss::DOUBLE * m - (s * s)::DOUBLE) > 0 THEN
    round((n::DOUBLE - s::DOUBLE / m)
          / sqrt((ss::DOUBLE * m - (s * s)::DOUBLE) / (m * m)::DOUBLE), 6)
  END AS z,
  CASE WHEN m >= 3 AND (ss::DOUBLE * m - (s * s)::DOUBLE) > 0 THEN
    abs(round((n::DOUBLE - s::DOUBLE / m)
          / sqrt((ss::DOUBLE * m - (s * s)::DOUBLE) / (m * m)::DOUBLE), 6)) > 2.0
  END AS is_anomaly
FROM w ORDER BY event_type, day
""",
    stage="stats",
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection on the event time series:
    per (event_type, day) counts scored against the mean/σ of the
    previous ≤7 OBSERVED days (ROWS frame — gap days don't pad the
    window), NULL until 3 history days exist or when the history is
    constant (σ=0).  Scale shape: the window runs over the
    catalog-sized daily rollup (days × types rows), partitioned by
    type — the data-scale work is one map-side-combinable count.
    Determinism: the window carries exact integer sums (n, Σ, Σx²);
    mean/σ/z are then ONE formula-identical double expression on both
    engines — every op (×, −, /, sqrt) is IEEE correctly rounded, so
    identical exact-int inputs give bit-identical doubles; no Welford
    accumulation order to disagree on.  At 100 TB-scale counts, swap
    the BIGINT n·n sums for DECIMAL (Σx² overflows past n≈3e9/day)."""
    from pyspark.sql import Window

    DAY = 86_400_000_000
    ev = _events(spark, sf_dir)
    d = (
        ev.select("event_type", F.expr(f"unix_micros(ts) div {DAY}").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    win = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    )
    w = d.select(
        "event_type",
        "day",
        "n",
        F.count("n").over(win).alias("m"),
        F.sum("n").over(win).alias("s"),
        F.sum(F.col("n") * F.col("n")).over(win).alias("ss"),
    )
    m, s, ss, n = (F.col(c) for c in ("m", "s", "ss", "n"))
    var_num = ss.cast("double") * m - (s * s).cast("double")
    z = F.round(
        (n.cast("double") - s.cast("double") / m)
        / F.sqrt(var_num / (m * m).cast("double")),
        6,
    )
    ok = (m >= 3) & (var_num > 0)
    return w.select(
        "event_type",
        F.col("day").cast("long").alias("day"),
        n.cast("long").alias("n_events"),
        F.when(m >= 3, F.round(s.cast("double") / m, 6)).alias("mean7"),
        F.when(ok, z).alias("z"),
        F.when(ok, F.abs(z) > F.lit(2.0)).alias("is_anomaly"),
    ).orderBy("event_type", "day")


@query(
    "compaction_bin_packing",
    """
WITH files AS (
  SELECT source, doc_id // 50 AS file_id,
         sum(n_chars) AS bytes, count(*) AS n_docs
  FROM documents GROUP BY 1, 2
),
planned AS (
  SELECT source, file_id, bytes,
    (COALESCE(sum(bytes) OVER (PARTITION BY source ORDER BY file_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) // 131072 AS bin_id
  FROM files
)
SELECT source, bin_id::BIGINT AS bin_id,
  count(*)::BIGINT AS n_files,
  sum(bytes)::BIGINT AS total_bytes,
  (sum(bytes) >= 131072) AS full_bin
FROM planned GROUP BY source, bin_id ORDER BY source, bin_id
""",
    stage="query",
)
def compaction_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner — the lakehouse maintenance shape
    (Delta OPTIMIZE / Iceberg rewrite_data_files): pack an ordered file
    inventory into ~128 KiB output bins by prefix-sum assignment
    (bin = floor(bytes-before-me / target) — the streaming first-fit
    that a single pass over a sorted manifest produces).  The inventory
    here is simulated from documents (one "file" per 50-doc run with
    its byte total); in production the input is the table manifest —
    METADATA, thousands-per-partition not billions, so the per-source
    ordered window is catalog-scale by construction (same argument as
    the gain-chart bucket windows).  Pure integer arithmetic end to
    end; `//` on non-negative prefix sums equals `div`."""
    TARGET = 131_072
    docs = _docs(spark, sf_dir)
    files = (
        docs.groupBy("source", F.expr("doc_id div 50").alias("file_id"))
        .agg(F.sum("n_chars").alias("bytes"))
    )
    planned = files.withColumn(
        "bin_id",
        F.expr(f"coalesce(sum(bytes) over (partition by source order by file_id "
               f"rows between unbounded preceding and 1 preceding), 0) div {TARGET}"),
    )
    return (
        planned.groupBy("source", F.col("bin_id").cast("long").alias("bin_id"))
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("bytes").cast("long").alias("total_bytes"),
        )
        .withColumn("full_bin", F.col("total_bytes") >= TARGET)
        .orderBy("source", "bin_id")
    )


def _pca_oracle(dim: int = 64, iters: int = 8) -> str:
    """Chained-CTE replay of operators/pca.power_iteration: exact BIGINT
    Gram from the same SQL quantization, then `iters` mat-vec +
    max-abs-normalize steps — list_dot_product folds ascending-j, the
    same order the python loop uses (the pagerank chained-CTE
    pattern)."""
    ones = ", ".join(["1.0"] * dim)
    parts = [
        f"""WITH q AS (
  SELECT list_transform(embedding::DOUBLE[],
                        e -> CAST(round(e * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
  -- mirror quantized_vectors' dirty-row filter: a NULL vector or any
  -- NULL/non-finite component excludes the whole row (r10 audit)
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding::DOUBLE[],
                        e -> e IS NULL OR NOT isfinite(e))) = 0
),
cells AS MATERIALIZED (
  SELECT ti.i AS i, tj.j AS j, sum(qv[ti.i] * qv[tj.j]) AS g
  FROM q, range(1, {dim + 1}) AS ti(i), range(1, {dim + 1}) AS tj(j)
  GROUP BY 1, 2
),
gmat AS MATERIALIZED (SELECT i, list(g::DOUBLE ORDER BY j) AS gl FROM cells GROUP BY i),
v0 AS (SELECT [{ones}] AS vl)"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f"""it{k} AS MATERIALIZED (
  SELECT i, list_dot_product(gl, (SELECT vl FROM v{k - 1})) AS gv FROM gmat),
n{k} AS MATERIALIZED (SELECT max(abs(gv)) AS mx FROM it{k}),
v{k} AS MATERIALIZED (SELECT list(gv / (SELECT mx FROM n{k}) ORDER BY i) AS vl FROM it{k})"""
        )
    body = ",\n".join(parts)
    return (
        body
        + f"""
SELECT i::INT AS dim,
       round(gv / (SELECT mx FROM n{iters}), 6) AS loading
FROM it{iters} ORDER BY dim
"""
    )


@query("pca_power_iteration", _pca_oracle(), stage="similarity")
def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding table (uncentered
    second-moment matrix) — the linear-algebra member of the iterative
    family next to pagerank_part_supplier.  Data-scale work is ONE
    Arrow partial-Gram pass per partition (exact int64 Q·Qᵀ over
    SQL-quantized micro-int vectors) with a (partitions × d²)
    constant-size shuffle; the 8 power-iteration steps run on the
    collected 64×64 matrix, sequential-fold arithmetic replayed
    verbatim by the chained-CTE oracle.  Sign/convergence are pinned
    by construction (v₀ = 1⃗, fixed 8 iterations, max-abs
    normalization) — no eigensolver, no tolerance loop.  See
    operators/pca.py for the overflow bound and determinism contract;
    centering is deliberately omitted (exact integer centering
    overflows int64 — production would center in DECIMAL)."""
    from shifu_spark.operators.pca import pca_top_component_df

    emb = _emb(spark, sf_dir)
    return pca_top_component_df(emb, "embedding", 64, iters=8)


@query(
    "ns_purify_filter",
    """
SELECT c_mktsegment AS segment, count(*)::BIGINT AS n,
       round(sum(cast(c_acctbal AS DECIMAL(38,10)))::DOUBLE, 4) AS sum_acctbal
FROM customer
WHERE c_acctbal > 1000.0 AND c_mktsegment = 'BUILDING' OR c_acctbal < 0.0
GROUP BY c_mktsegment ORDER BY segment
""",
    stage="query",
)
def ns_purify_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NSColumn namespaced-header addressing end-to-end (column/
    NSColumn.java; core/DataPurifier.java:115-119): customer columns are
    renamed to Pig-style ``relation::column`` namespaces, round-tripped
    through the delimited-text sink + ``.pig_header`` sidecar, re-read
    WITHOUT stripping namespaces, and purified by a JEXL filter that
    addresses one column by SIMPLE name (``c_acctbal``) and one by FULL
    namespaced name (``cust::c_mktsegment``) — both bind to the same
    namespaced headers via NSColumn suffix-match (catalog/nscolumn.py).
    The oracle filters the original typed parquet directly, so hash
    equality proves namespace parsing, both address forms, and the
    text round-trip at once."""
    import tempfile
    import uuid

    from shifu_spark.operators.purify import purify
    from shifu_spark.sources.reader import (
        read_dataset,
        safe_double,
        write_dataset,
        write_header_sidecar,
    )

    ns = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust::c_custkey"),
        F.col("c_mktsegment").alias("cust::c_mktsegment"),
        F.col("c_acctbal").alias("acct::c_acctbal"),
    )
    import shutil

    base = f"{tempfile.gettempdir()}/shifu_spark_nsp_{uuid.uuid4().hex[:8]}"
    try:
        write_dataset(ns, f"{base}/data", fmt="csv", delimiter="|")
        write_header_sidecar(ns, f"{base}/data", delimiter="|")
        back = read_dataset(
            spark, f"{base}/data", header_path=f"{base}/data.pig_header",
            strip_namespace=False,
        )
        # csv sink wrote an inline header row too — drop it by field-name
        # match, NULL-SAFELY: a bare != is three-valued and silently eats
        # every NULL-key data row along with the header (same bug-class the
        # r10 campaign fixed in text_roundtrip_stats above)
        back = back.filter(~F.col("`cust::c_custkey`").eqNullSafe("cust::c_custkey"))
        kept = purify(
            back, "c_acctbal > 1000.0 && cust::c_mktsegment == 'BUILDING' || c_acctbal < 0.0"
        )
        out = (
            kept.groupBy(F.col("`cust::c_mktsegment`").alias("segment"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(
                    F.sum(safe_double(F.col("`acct::c_acctbal`")).cast("decimal(38,10)")).cast("double"),
                    4,
                ).alias("sum_acctbal"),
            )
            .orderBy("segment")
        )
        # materialize before removing the temp sink the plan reads
        return _materialize_release(out, [])
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# TPC-H completion batch (round 7): q2, q11, q12, q20 — the last classic
# decision-support shapes missing from the suite.  Schema substitutions
# follow the established suite conventions (no partsupp table: the
# part-supplier relation and unit cost derive from lineitem, as q16 did;
# no l_shipmode/commitdate: q12 groups by returnflag with the q4-style
# late-shipment predicate).
# ---------------------------------------------------------------------------


@query(
    "tpch_q2_min_cost_supplier",
    """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         CAST(round(min(l_extendedprice / l_quantity) * 10000.0) AS BIGINT)
           AS cost_um
  FROM lineitem GROUP BY l_partkey, l_suppkey
), rs AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier, nation, region
  WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
    AND r_name = 'EUROPE'
), pc AS (
  SELECT p_partkey, p_type, s_name, s_acctbal, n_name, cost_um
  FROM part, ps, rs
  WHERE p_partkey = l_partkey AND l_suppkey = s_suppkey
    AND p_size < 10 AND p_type = 'STANDARD'
), mn AS (
  SELECT p_partkey AS m_partkey, min(cost_um) AS min_cost
  FROM pc GROUP BY p_partkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
       cost_um / 10000.0 AS min_unit_cost
FROM pc, mn
WHERE p_partkey = m_partkey AND cost_um = min_cost
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
    stage="query",
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier): for every small STANDARD part,
    the EUROPE supplier(s) offering the minimum unit cost — the classic
    correlated-MIN-subquery decorrelated to a per-part aggregate joined
    back on (part, cost) equality.  Unit cost = min(extendedprice /
    quantity) per (part, supplier) derived from lineitem (no partsupp
    in schema, the q16 convention), SCALED TO EXACT INTEGER 1e-4 UNITS
    before the min (round(x*10000) as BIGINT — a plain round(x, 4)
    diverges cross-engine at non-representable half-boundaries, the
    q11 lesson) so the join-back equality is exact integer equality.  Spark-first: region-pruned suppliers and filtered parts
    both BROADCAST onto the derived ps aggregate (one lineitem
    shuffle); the per-part min table is candidate-part-sized and
    broadcasts back; total order on the sort keys makes LIMIT 100
    deterministic."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.round(F.min(F.col("l_extendedprice") / F.col("l_quantity")) * 10000.0, 0)
        .cast("long")
        .alias("cost_um")
    )
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    rs = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    nation.n_regionkey == region.r_regionkey,
                ).select("n_nationkey", "n_name")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    part = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_size") < 10) & (F.col("p_type") == "STANDARD"))
        .select("p_partkey", "p_type")
    )
    pc = (
        ps.join(F.broadcast(part), ps.l_partkey == part.p_partkey)
        .join(F.broadcast(rs), ps.l_suppkey == rs.s_suppkey)
        .select("p_partkey", "p_type", "s_name", "s_acctbal", "n_name", "cost_um")
    )
    # pc is candidate-sized (filtered parts x region suppliers) but its
    # lineage contains the full lineitem aggregate — persist it so the
    # min branch and the join-back don't each re-run the fact scan
    pc = pc.persist()
    try:
        mn = pc.groupBy(F.col("p_partkey").alias("m_partkey")).agg(
            F.min("cost_um").alias("min_cost")
        )
        out = (
            pc.join(
                F.broadcast(mn),
                (pc.p_partkey == mn.m_partkey) & (pc.cost_um == mn.min_cost),
            )
            .select(
                "s_acctbal", "s_name", "n_name", "p_partkey", "p_type",
                (F.col("cost_um") / 10000.0).alias("min_unit_cost"),
            )
            .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
            .limit(100)
        )
        return _materialize_release(out, [pc])
    except BaseException:
        pc.unpersist()
        raise


@query(
    "tpch_q11_important_stock",
    """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         CAST(round(min(l_extendedprice / l_quantity) * 10000.0) AS BIGINT)
           AS cost_um,
         CAST(round(sum(l_quantity)) AS BIGINT) AS availqty
  FROM lineitem GROUP BY l_partkey, l_suppkey
), natps AS (
  SELECT l_partkey, cost_um * availqty AS value_e4
  FROM ps, supplier, nation
  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
    AND n_name IN ('NATION_3', 'NATION_7')
), tot AS (
  SELECT sum(value_e4)::BIGINT AS t_e4 FROM natps
)
SELECT l_partkey AS partkey,
       sum(value_e4)::BIGINT / 10000.0 AS stock_value
FROM natps, tot
GROUP BY l_partkey, t_e4
HAVING sum(value_e4)::BIGINT * 1000 > t_e4
ORDER BY stock_value DESC, partkey
""",
    stage="query",
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock identification): per-part stock value
    held by two nations' suppliers, kept when above a FRACTION OF THE
    GLOBAL TOTAL — the two-level-aggregate-with-scalar-subquery shape.
    Stock value derives from lineitem (q16 convention) ENTIRELY IN
    EXACT INTEGERS: unit cost as round(min(price/qty)*10000) BIGINT,
    availqty as an integral-quantity BIGINT sum, value = their exact
    product — per-part sums, the global total and the HAVING threshold
    are integer arithmetic, one final /10000.0 division for display.
    LESSON (two failed gate attempts pinned it): F.round(double, d)
    is NOT cross-engine — Spark rounds the shortest decimal repr,
    DuckDB the binary value, and they disagree at non-representable
    half-boundaries (1265.17025 -> .1703 vs .1702); scale-then-round-
    to-integer agrees everywhere because k+0.5 IS representable.
    Spark-first: supplier/nation broadcast onto the derived ps
    aggregate; the global total is a 1-row broadcast crossJoin; one
    lineitem shuffle + one catalog-scale shuffle on the part key."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.round(F.min(F.col("l_extendedprice") / F.col("l_quantity")) * 10000.0, 0)
        .cast("long")
        .alias("cost_um"),
        F.round(F.sum("l_quantity"), 0).cast("long").alias("availqty"),
    )
    nation = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7")
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    natps = (
        ps.join(F.broadcast(supp), ps.l_suppkey == supp.s_suppkey)
        .select(
            "l_partkey",
            (F.col("cost_um") * F.col("availqty")).alias("value_e4"),
        )
    )
    natps = natps.persist()
    try:
        tot = natps.agg(F.sum("value_e4").alias("t_e4"))
        out = (
            natps.groupBy("l_partkey")
            .agg(F.sum("value_e4").alias("e4"))
            .crossJoin(F.broadcast(tot))
            # fraction-of-total in INTEGER arithmetic: `e4 > t_e4 * 0.001`
            # promotes both sides to DOUBLE in Spark (0.001 is a double
            # literal) while DuckDB's 0.001 is DECIMAL(4,3) — an exact
            # compare — so a part sitting exactly at t_e4/1000 diverges
            # cross-engine; e4 * 1000 > t_e4 is exact on both (ANSI mode
            # errors loudly on the ~9e15-unit overflow bound)
            .filter(F.col("e4") * 1000 > F.col("t_e4"))
            .select(
                F.col("l_partkey").alias("partkey"),
                (F.col("e4") / 10000.0).alias("stock_value"),
            )
            .orderBy(F.desc("stock_value"), "partkey")
        )
        return _materialize_release(out, [natps])
    except BaseException:
        natps.unpersist()
        raise


@query(
    "tpch_q12_priority_shipping",
    """
SELECT l_returnflag AS ship_class,
  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT
    AS high_line_count,
  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)::BIGINT
    AS low_line_count
FROM lineitem, orders
WHERE o_orderkey = l_orderkey
  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
GROUP BY l_returnflag ORDER BY ship_class
""",
    stage="query",
)
def tpch_q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping modes and order priority): per ship class,
    how many LATE lines belonged to high- vs low-priority orders — the
    join + dual-conditional-aggregation shape.  (Schema has no
    l_shipmode or commitdate chain: l_returnflag stands in as the ship
    class and late = shipdate > orderdate + 60 days, the q4
    convention.)  Spark-first: the year filter is pushed to the
    lineitem scan; orders projects two columns and the join aggregates
    straight into 3 groups — one fact shuffle, map-side partial
    aggregation does the counting."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    ).select("l_orderkey", "l_returnflag", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


@query(
    "tpch_q20_excess_stock",
    """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         sum(cast(l_quantity AS DECIMAL(38,10)))::DOUBLE AS availqty
  FROM lineitem GROUP BY l_partkey, l_suppkey
), yr AS (
  SELECT l_partkey AS y_partkey,
         0.5 * sum(cast(l_quantity AS DECIMAL(38,10)))::DOUBLE AS half_qty
  FROM lineitem
  WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
  GROUP BY l_partkey
), pp AS (
  SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
), excess AS (
  SELECT DISTINCT l_suppkey
  FROM ps, yr, pp
  WHERE l_partkey = y_partkey AND l_partkey = p_partkey
    AND availqty > half_qty
)
SELECT s_name, round(s_acctbal, 2) AS acctbal
FROM supplier, nation, excess
WHERE s_nationkey = n_nationkey AND s_suppkey = l_suppkey
  AND n_nationkey < 13
ORDER BY s_name
""",
    stage="query",
)
def tpch_q20_excess_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion): suppliers in half the
    nations holding EXCESS STOCK of 'small%' parts — stock above half a
    year's shipped quantity — the nested-IN-subqueries shape collapsed
    to semi joins.  Availqty and the yearly sum both derive from
    lineitem through exact DECIMAL sums cast to double, so the >
    compare is the same IEEE comparison on both engines.  Spark-first:
    the 'small%' part list broadcasts into the derived ps aggregate,
    the per-part yearly threshold (part-sized) broadcasts likewise, and
    the resulting distinct supplier set is catalog-scale — a broadcast
    left_semi against supplier ends the plan; lineitem shuffles twice
    (once per aggregate grain), nothing else is data-scale."""
    li = _t(spark, sf_dir, "lineitem")
    pp = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    ps = (
        li.join(F.broadcast(pp), li.l_partkey == pp.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(38,10)"))
            .cast("double")
            .alias("availqty")
        )
    )
    yr = (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(F.broadcast(pp), li.l_partkey == pp.p_partkey)
        .groupBy(F.col("l_partkey").alias("y_partkey"))
        .agg(
            (
                F.lit(0.5)
                * F.sum(F.col("l_quantity").cast("decimal(38,10)")).cast("double")
            ).alias("half_qty")
        )
    )
    excess = (
        ps.join(F.broadcast(yr), ps.l_partkey == yr.y_partkey)
        .filter(F.col("availqty") > F.col("half_qty"))
        .select("l_suppkey")
        .distinct()
    )
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 13)
    return (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(excess), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", F.round("s_acctbal", 2).alias("acctbal"))
        .orderBy("s_name")
    )


# ---------------------------------------------------------------------------
# Wide & Deep (§2.10 — core/dtrain/wdl/, the last training family)
# ---------------------------------------------------------------------------


@query("wdl_forward_pinned", stage="train")
def wdl_forward_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide&Deep scoring with PINNED weights — the hash-checkable half of
    the W&D family (the fit stays rows-only). Drives the REAL scoring
    path — ml/wdl's ``wdl_score_udf`` → ``_wdl_forward`` over the flat
    weight layout — against a literal model: 2 dense features, one
    3-category sparse field with a 2-wide embedding, one SIGMOID hidden
    pair, LINEAR deep output, combined as WideAndDeep.java:163-202
    (p = sigmoid(wide_logit + deep_logit)). The oracle restates the
    same closed form in SQL with CASE lookups for the per-category wide
    weight and embedding rows. |logit| < 3 everywhere — far from the
    sigmoid clip — so the clip-free oracle is exact."""
    from shifu_spark.ml.wdl import WDLModel, wdl_score_udf

    li = _t(spark, sf_dir, "lineitem")
    df = li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_quantity") / 50.0).alias("x1"),
        (F.col("l_discount") * 10.0).alias("x2"),
        F.when(F.col("l_returnflag") == "A", 0)
        .when(F.col("l_returnflag") == "N", 1)
        .otherwise(2)
        .cast("int")
        .alias("cat"),
    )
    # flat layout per ml/wdl module docstring:
    weights = [
        0.3, -0.2, 0.1,          # wide field weights cat 0/1/2
        0.5, -0.4,               # wide dense (x1, x2)
        0.05,                    # wide bias
        0.2, -0.1,               # embedding row cat=0
        -0.3, 0.4,               # embedding row cat=1
        0.1, 0.25,               # embedding row cat=2
        0.6, -0.5,               # deep layer1: x1 -> h1,h2
        0.8, 0.3,                # x2
        -0.7, 0.9,               # e1
        0.4, -0.6,               # e2
        0.1, -0.1,               # layer1 bias
        1.2, -0.9,               # h -> deep out
        0.15,                    # deep out bias
    ]
    model = WDLModel(
        dense_cols=["x1", "x2"], sparse_cols=["cat"], cardinalities=[3],
        embed_dim=2, hidden_layers=[2], hidden_activation="SIGMOID",
        weights=weights,
    )
    return df.select(
        "l_orderkey",
        "l_linenumber",
        F.round(wdl_score_udf(model), 6).alias("score"),
    ).orderBy("l_orderkey", "l_linenumber")


ORACLES["wdl_forward_pinned"] = """
WITH x AS (
  SELECT l_orderkey, l_linenumber,
         l_quantity / 50.0 AS x1, l_discount * 10.0 AS x2,
         CASE l_returnflag WHEN 'A' THEN 0 WHEN 'N' THEN 1 ELSE 2 END AS cat
  FROM lineitem
),
e AS (
  SELECT l_orderkey, l_linenumber, x1, x2,
         CASE cat WHEN 0 THEN 0.3 WHEN 1 THEN -0.2 ELSE 0.1 END AS wf,
         CASE cat WHEN 0 THEN 0.2 WHEN 1 THEN -0.3 ELSE 0.1 END AS e1,
         CASE cat WHEN 0 THEN -0.1 WHEN 1 THEN 0.4 ELSE 0.25 END AS e2
  FROM x
),
h AS (
  SELECT l_orderkey, l_linenumber,
         0.5*x1 + -0.4*x2 + 0.05 + wf AS wide,
         1.0 / (1.0 + exp(-(0.6*x1 + 0.8*x2 + -0.7*e1 + 0.4*e2 + 0.1))) AS h1,
         1.0 / (1.0 + exp(-(-0.5*x1 + 0.3*x2 + 0.9*e1 + -0.6*e2 + -0.1))) AS h2
  FROM e
)
SELECT l_orderkey, l_linenumber,
       round(1.0 / (1.0 + exp(-(wide + 1.2*h1 + -0.9*h2 + 0.15))), 6) AS score
FROM h ORDER BY l_orderkey, l_linenumber
"""


@query("wdl_train", stage="train")
def wdl_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Wide&Deep training (core/dtrain/wdl BSP as mapInPandas
    partial gradients + driver optimizer, ml/wdl.py — wide sparse
    lookups + embedding scatter-add gradients, deep MLP, combined-logit
    sigmoid). Rows-only but semi-verifiable: per-epoch loss decrease +
    held-out AUC >= 0.9 on the planted separable target, asserted
    in-query."""
    from shifu_spark.ml.wdl import train_wdl, wdl_score_udf
    from shifu_spark.operators.eval_metrics import curve_metrics_df

    li = _t(spark, sf_dir, "lineitem")
    data = li.select(
        (F.col("l_quantity") / 50.0).alias("x1"),
        (F.col("l_discount") * 10.0).alias("x2"),
        F.when(F.col("l_returnflag") == "A", 0)
        .when(F.col("l_returnflag") == "N", 1)
        .otherwise(2)
        .cast("int")
        .alias("cat"),
        (F.col("l_quantity") > 25).cast("double").alias("label"),
    )
    train, valid = data.randomSplit([0.8, 0.2], seed=42)
    model = train_wdl(
        train, ["x1", "x2"], ["cat"], [3], embed_dim=2, hidden_layers=[4],
        hidden_activation="RELU", optimizer="ADAM", learning_rate=0.3,
        max_epochs=8, seed=42,
    )
    auc = curve_metrics_df(
        valid.withColumn("p", wdl_score_udf(model)),
        "p",
        F.col("label") == 1.0,
    ).collect()[0]["auc"]
    return _fit_invariant_rows(spark, model.train_losses, auc, 0.9)


@query("wdl_ensemble_pinned", stage="train")
def wdl_ensemble_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bagged Wide&Deep ENSEMBLE scoring with PINNED weights — W&D wired
    through the family-agnostic combo path: per-model scores come from
    the real ml/wdl scorer (wdl_score_udf -> _wdl_forward), the
    mean/max/min/median come from the SHARED with_ensemble_stats array
    expressions (ScoreObject.java:35-74) exactly as NN/LR/RF ensembles
    do — core/Scorer.java:129-210 dispatches on model family only for
    the per-model score, never in the aggregation. Three literal
    models, each with an EMPTY hidden stack (deep part = one LINEAR
    layer over [x1, x2, e1, e2]), so the oracle restates each score as
    a closed form with CASE lookups and the median of 3 as
    sum - greatest - least. |logit| < 3 — far from the sigmoid clip."""
    from shifu_spark.ml.wdl import WDLModel, score_wdl_ensemble

    li = _t(spark, sf_dir, "lineitem")
    df = li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_quantity") / 50.0).alias("x1"),
        (F.col("l_discount") * 10.0).alias("x2"),
        F.when(F.col("l_returnflag") == "A", 0)
        .when(F.col("l_returnflag") == "N", 1)
        .otherwise(2)
        .cast("int")
        .alias("cat"),
    )
    # flat layout per ml/wdl module docstring: 3 wide field weights,
    # 2 wide dense, wide bias, 3x2 embedding, then the 5-weight LINEAR
    # deep layer [m_x1, m_x2, m_e1, m_e2, m_bias]
    weight_sets = [
        [0.3, -0.2, 0.1,  0.5, -0.4, 0.05,
         0.2, -0.1, -0.3, 0.4, 0.1, 0.25,
         0.6, 0.8, -0.7, 0.4, 0.1],
        [-0.1, 0.25, 0.05,  -0.3, 0.6, -0.1,
         0.15, 0.3, 0.05, -0.2, -0.25, 0.1,
         -0.4, 0.5, 0.9, -0.6, 0.2],
        [0.2, 0.0, -0.15,  0.35, 0.1, 0.0,
         -0.05, 0.2, 0.3, -0.1, 0.05, -0.3,
         0.7, -0.2, 0.3, 0.8, -0.15],
    ]
    models = [
        WDLModel(
            dense_cols=["x1", "x2"], sparse_cols=["cat"], cardinalities=[3],
            embed_dim=2, hidden_layers=[], hidden_activation="RELU",
            weights=w,
        )
        for w in weight_sets
    ]
    out = score_wdl_ensemble(df, models, keep_cols=["l_orderkey", "l_linenumber"])
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.round("mean", 6).alias("mean_score"),
        F.round("max", 6).alias("max_score"),
        F.round("min", 6).alias("min_score"),
        F.round("median", 6).alias("median_score"),
    ).orderBy("l_orderkey", "l_linenumber")


ORACLES["wdl_ensemble_pinned"] = """
WITH x AS (
  SELECT l_orderkey, l_linenumber,
         l_quantity / 50.0 AS x1, l_discount * 10.0 AS x2,
         CASE l_returnflag WHEN 'A' THEN 0 WHEN 'N' THEN 1 ELSE 2 END AS cat
  FROM lineitem
),
s AS (
  SELECT l_orderkey, l_linenumber,
    1.0 / (1.0 + exp(-(
      CASE cat WHEN 0 THEN 0.3 WHEN 1 THEN -0.2 ELSE 0.1 END
      + 0.5*x1 + -0.4*x2 + 0.05
      + 0.6*x1 + 0.8*x2
      + -0.7 * (CASE cat WHEN 0 THEN 0.2 WHEN 1 THEN -0.3 ELSE 0.1 END)
      +  0.4 * (CASE cat WHEN 0 THEN -0.1 WHEN 1 THEN 0.4 ELSE 0.25 END)
      + 0.1))) AS s0,
    1.0 / (1.0 + exp(-(
      CASE cat WHEN 0 THEN -0.1 WHEN 1 THEN 0.25 ELSE 0.05 END
      + -0.3*x1 + 0.6*x2 + -0.1
      + -0.4*x1 + 0.5*x2
      +  0.9 * (CASE cat WHEN 0 THEN 0.15 WHEN 1 THEN 0.05 ELSE -0.25 END)
      + -0.6 * (CASE cat WHEN 0 THEN 0.3 WHEN 1 THEN -0.2 ELSE 0.1 END)
      + 0.2))) AS s1,
    1.0 / (1.0 + exp(-(
      CASE cat WHEN 0 THEN 0.2 WHEN 1 THEN 0.0 ELSE -0.15 END
      + 0.35*x1 + 0.1*x2 + 0.0
      + 0.7*x1 + -0.2*x2
      +  0.3 * (CASE cat WHEN 0 THEN -0.05 WHEN 1 THEN 0.3 ELSE 0.05 END)
      +  0.8 * (CASE cat WHEN 0 THEN 0.2 WHEN 1 THEN -0.1 ELSE -0.3 END)
      + -0.15))) AS s2
  FROM x
)
SELECT l_orderkey, l_linenumber,
       round((s0 + s1 + s2) / 3, 6)                                AS mean_score,
       round(greatest(s0, s1, s2), 6)                              AS max_score,
       round(least(s0, s1, s2), 6)                                 AS min_score,
       round(s0 + s1 + s2 - greatest(s0,s1,s2) - least(s0,s1,s2), 6) AS median_score
FROM s ORDER BY l_orderkey, l_linenumber
"""


@query("wdl_train_minibatch", stage="train")
def wdl_train_minibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide&Deep MINI-BATCH training — the reference's actual training
    regime (WDLWorker iterates on per-superstep subsamples the way
    AbstractNNWorker's sampleRate does, vs wdl_train's full-batch form):
    every epoch each worker draws a fresh ~50% subsample of its local
    rows, so the master's ADAM step is stochastic. Rows-only but
    semi-verifiable: per-epoch loss decrease + held-out AUC >= 0.9 on
    the planted separable target, asserted in-query."""
    from shifu_spark.ml.wdl import train_wdl, wdl_score_udf
    from shifu_spark.operators.eval_metrics import curve_metrics_df

    li = _t(spark, sf_dir, "lineitem")
    data = li.select(
        (F.col("l_quantity") / 50.0).alias("x1"),
        (F.col("l_discount") * 10.0).alias("x2"),
        F.when(F.col("l_returnflag") == "A", 0)
        .when(F.col("l_returnflag") == "N", 1)
        .otherwise(2)
        .cast("int")
        .alias("cat"),
        (F.col("l_quantity") > 25).cast("double").alias("label"),
    )
    train, valid = data.randomSplit([0.8, 0.2], seed=42)
    model = train_wdl(
        train, ["x1", "x2"], ["cat"], [3], embed_dim=2, hidden_layers=[4],
        hidden_activation="RELU", optimizer="ADAM", learning_rate=0.3,
        max_epochs=8, epoch_sample_rate=0.5, seed=42,
    )
    auc = curve_metrics_df(
        valid.withColumn("p", wdl_score_udf(model)),
        "p",
        F.col("label") == 1.0,
    ).collect()[0]["auc"]
    return _fit_invariant_rows(spark, model.train_losses, auc, 0.9)


# ---------------------------------------------------------------------------
# Embedding-oracle ingest guard (runs once at import, after every oracle
# above is registered): rewrite each embedding oracle's table reference
# to the SAME validated population `_emb` scans — NULL / wrong-dim /
# non-finite vectors excluded. The predicate is part of the declared
# ingest contract, applied identically on both engines (the r10
# dirty-embeddings audit: one malformed row crashed all 14 queries).
# ---------------------------------------------------------------------------

_EMBEDDING_ORACLE_NAMES = [
    "embedding_topk", "embedding_neardup_pairs", "embedding_lsh_topk",
    "embedding_ivf_topk", "embedding_ivf_multiprobe", "pq_encode",
    "pq_adc_topk", "kmeans_step_centroids", "embedding_ivfpq_topk",
    "ann_recall_report", "semantic_dedup", "matryoshka_recall",
    "pca_power_iteration", "embedding_neardup_lsh_scale",
]


def _guard_embedding_oracles() -> None:
    import re as _re

    from shifu_spark.operators.similarity import valid_vector_sql

    sub = f"(SELECT * FROM embeddings WHERE {valid_vector_sql('embedding', EMB_DIM)})"
    pat = _re.compile(r"\b(FROM|JOIN)\s+embeddings\b")
    for name in _EMBEDDING_ORACLE_NAMES:
        sql = ORACLES.get(name)
        if sql is None:
            continue
        ORACLES[name] = pat.sub(lambda m: f"{m.group(1)} {sub}", sql)


_guard_embedding_oracles()


def _guard_documents_oracles() -> None:
    """Mirror the `_docs` PRIMARY-KEY ingest contract in every oracle:
    rewrite each `FROM/JOIN documents` to the NULL-id-excluded
    population. A NULL doc_id is relationally unaddressable (no
    id-keyed join/window/group can re-key two id-less rows), so both
    engines score the same corpus."""
    import re as _re

    sub = "(SELECT * FROM documents WHERE doc_id IS NOT NULL)"
    pat = _re.compile(r"\b(FROM|JOIN)\s+documents\b")
    for name, sql in list(ORACLES.items()):
        if "documents" in sql:
            ORACLES[name] = pat.sub(lambda m: f"{m.group(1)} {sub}", sql)


_guard_documents_oracles()


# ---------------------------------------------------------------------------
# DECIMAL-cast semantics alignment (runs once at import, after every
# oracle above): Spark's double->DECIMAL cast yields NULL for NaN/±Inf
# (even under ANSI — verified empirically, the cast is try-semantics
# for decimal targets), so every DECIMAL(38,10)-summed Spark query
# silently SKIPS non-finite inputs. DuckDB's CAST is strict and one
# NaN row kills the whole oracle ("can't be cast ... INT128") — and
# this DuckDB version's try_cast STILL errors on NaN->DECIMAL, so the
# version-pinned spelling is an explicit isfinite CASE (NULL for
# NULL/NaN/±Inf, exactly Spark's silent-NULL decimal cast). A balanced-
# paren scanner, not a regex — cast arguments nest arbitrarily.
# ---------------------------------------------------------------------------


def _finite_decimal_cast_oracles() -> None:
    def rewrite(sql: str) -> str:
        out = []
        i = 0
        low = sql.lower()
        while True:
            j = low.find("cast(", i)
            if j < 0:
                out.append(sql[i:])
                return "".join(out)
            if low[max(0, j - 4):j] == "try_":  # already try_cast
                out.append(sql[i:j + 5])
                i = j + 5
                continue
            depth, k = 1, j + 5
            while k < len(sql) and depth:
                if sql[k] == "(":
                    depth += 1
                elif sql[k] == ")":
                    depth -= 1
                k += 1
            inner = sql[j + 5:k - 1]
            out.append(sql[i:j])
            if inner.upper().rstrip().endswith("AS DECIMAL(38,10)"):
                # split "expr AS DECIMAL(38,10)" at the LAST AS
                cut = inner.upper().rindex(" AS DECIMAL(38,10)")
                expr = rewrite(inner[:cut])
                out.append(
                    "cast(CASE WHEN isfinite(CAST((" + expr + ") AS DOUBLE)) "
                    "THEN (" + expr + ") END AS DECIMAL(38,10))"
                )
            else:
                out.append(sql[j:j + 5] + rewrite(inner) + ")")
            i = k

    for name, sql in list(ORACLES.items()):
        if "cast" in sql.lower():
            ORACLES[name] = rewrite(sql)


_finite_decimal_cast_oracles()
