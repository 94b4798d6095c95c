"""Row filtering, segment expansion, sampling — the `purify` family.

Reference:
  * JEXL row filter: core/DataPurifier.java:47-130, udf/PurifyDataUDF.java
    — applied at the head of every pipeline script (Normalize.pig:40).
  * Segment expansion: N filter expressions -> logically replicate the
    dataset per matching segment with a segment id
    (udf/AddColumnNumAndFilterUDF.java:75-99).
  * Bernoulli sampling with keep-all-positives option:
    core/DataSampler.java:112-160 (sampleRate + sampleNegOnly).
  * Bagging subsample: udf/BaggingSubsampleUDF.java.
  * Invalid-tag filter: NormalizeUDF.java:262-278.

All seeded (the reference uses unseeded Math.random(); SURVEY §7 requires
seeded equivalents for testability).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from shifu_spark.functions.jexl import jexl_filter


def purify(df: DataFrame, filter_expression: str | None) -> DataFrame:
    """Apply the dataset-level JEXL filter; None -> passthrough.

    Declarative => Catalyst pushes the predicate into the parquet scan
    (the reference always filtered post-scan).

    When the DataFrame carries namespaced headers (``ns::name``), the
    expression's identifiers bind to them under NSColumn semantics —
    simple name or any namespace suffix both address the column
    (DataPurifier.java:115-119 binds both forms; catalog/nscolumn.py).
    Leaf-named data keeps the identity binding, so behavior there is
    unchanged."""
    if not filter_expression:
        return df
    if any("::" in c for c in df.columns):
        return df.filter(jexl_filter(filter_expression, headers=df.columns))
    return df.filter(jexl_filter(filter_expression))


def expand_segments(df: DataFrame, segment_expressions: list[str]) -> DataFrame:
    """Union of filtered copies with a ``segment_id`` column (0 = raw data,
    i = segment expression i), matching AddColumnNumAndFilterUDF:75-99's
    virtual-dataset semantics.  Namespaced frames get the same NSColumn
    expression binding as purify()."""
    headers = df.columns if any("::" in c for c in df.columns) else None
    out = df.withColumn("segment_id", F.lit(0))
    for i, expr in enumerate(segment_expressions, start=1):
        out = out.unionByName(
            df.filter(jexl_filter(expr, headers)).withColumn("segment_id", F.lit(i))
        )
    return out


def bernoulli_sample(
    df: DataFrame,
    sample_rate: float,
    sample_negative_only: bool = False,
    tag_col: str | None = None,
    pos_tags: list[str] | None = None,
    seed: int = 42,
) -> DataFrame:
    """DataSampler.java:112-160: Bernoulli at ``sample_rate``; with
    ``sample_negative_only`` positives are always kept and only negatives
    are down-sampled — `sampleBy` keyed on the tag."""
    if sample_rate >= 1.0:
        return df
    if sample_negative_only and tag_col:
        is_pos = F.col(tag_col).isin(pos_tags or [])
        frac_col = F.when(is_pos, F.lit(1.0)).otherwise(F.lit(sample_rate))
        return df.filter(F.rand(seed) < frac_col)
    return df.sample(fraction=sample_rate, seed=seed)


def _hex_threshold(rate: float, digits: int = 32) -> str:
    """Lowercase-hex string h such that P[md5(x) < h] ≈ rate (within
    16^-digits) for uniform md5 output."""
    out = []
    x = float(rate)
    for _ in range(digits):
        x *= 16
        d = min(int(x), 15)
        out.append("0123456789abcdef"[d])
        x -= d
    return "".join(out)


def hash_bernoulli_sample(
    df: DataFrame,
    sample_rate: float,
    key_cols: list[str],
    sample_negative_only: bool = False,
    tag_col: str | None = None,
    pos_tags: list[str] | None = None,
    salt: str = "0",
) -> DataFrame:
    """Deterministic content-keyed Bernoulli sample: keep a row iff
    md5(salt|key) < the hex threshold for ``sample_rate``.

    The production-scale complement of :func:`bernoulli_sample`:
    ``F.rand(seed)`` draws depend on the PHYSICAL partition layout, so a
    repartition (or an engine change) silently yields a different
    sample; hash membership is a pure function of the row key — stable
    across reruns, partitionings and engines (and therefore
    oracle-checkable). Same keep-all-positives switch as the reference
    sampler (DataSampler.java:112-160).

    Key contract: a NULL key column NULLs the whole hash (NULL-
    propagating concat, matching SQL ``||``), so NULL-keyed negatives
    are dropped rather than silently correlated; string keys containing
    the ``|`` delimiter can collide composite keys — escape them or use
    fixed-width/numeric keys."""
    # key contract is checked BEFORE the rate-1.0 early return: whether
    # a double key raises must not depend on the sampling-rate config
    # (a staging run at rate=1.0 would otherwise never exercise it)
    from shifu_spark.functions.keys import require_canonical_key

    for kc in key_cols:
        require_canonical_key(df, kc, what="sample key")
    if sample_rate >= 1.0:
        return df
    thr = _hex_threshold(sample_rate)
    keep = _hash_key(key_cols, salt) < F.lit(thr)
    if sample_negative_only and tag_col:
        keep = F.col(tag_col).isin(pos_tags or []) | keep
    return df.filter(keep)


def _hash_key(key_cols: list[str], salt: str) -> Column:
    """md5(salt|k1|k2|...) via NULL-PROPAGATING concat — concat_ws would
    silently skip NULL columns, collapsing distinct keys (('x', NULL)
    and ('x',) hash alike) and diverging from the oracle's ``||``.

    Keys must be cross-engine string-canonical (string/integral/
    decimal): a FLOAT/DOUBLE key renders differently on Spark vs DuckDB
    and silently diverges — hash_bernoulli_sample guards this where the
    frame is in hand (functions/keys.require_canonical_key); the bare
    Column helpers (hash_fold_expr, poisson_copies_expr) cannot see the
    schema, so their callers own the same contract."""
    parts: list[Column] = [F.lit(salt)]
    for c in key_cols:
        parts.extend([F.lit("|"), F.col(c).cast("string")])
    return F.md5(F.concat(*parts))


def hash_fold_expr(key_cols: list[str], k: int, salt: str = "fold") -> Column:
    """Content-keyed k-fold index: fold = #{hex thresholds <= md5(salt|key)}.

    Same machinery as :func:`hash_bernoulli_sample` — the fold a row
    lands in is a pure function of its key, so CV splits are identical
    across reruns, partitionings and engines (monotonically_increasing_id
    or rand-based folds are layout-dependent), and the assignment is
    oracle-checkable with plain string comparisons. Same key contract
    as :func:`hash_bernoulli_sample` (NULL key -> fold 0 on both
    engines; escape ``|`` in string keys)."""
    h = _hash_key(key_cols, salt)
    fold = F.lit(0)
    for i in range(1, k):
        fold = fold + F.when(h >= F.lit(_hex_threshold(i / k)), 1).otherwise(0)
    return fold


def poisson_pmf_cumsums(lam: float, max_k: int) -> list[float]:
    """CDF cut points of Poisson(lam) at k = 0..max_k-1 (pure driver-side
    math; becomes literal hex thresholds in both engines' plans)."""
    import math

    cums, acc, pk = [], 0.0, math.exp(-lam)
    for k in range(max_k):
        acc += pk
        cums.append(acc)
        pk = pk * lam / (k + 1)
    return cums


def poisson_copies_expr(
    key_cols: list[str], lam: float = 1.0, salt: str = "bag", max_k: int = 6
) -> Column:
    """Content-keyed Poisson(lam) copy count — the DISTRIBUTED form of
    bootstrap/bagging resampling-with-replacement (the per-bag counts of
    an n-draw bootstrap converge to iid Poisson(lam=fraction·n/n); every
    production-scale bagging implementation uses this, because true
    global sampling-with-replacement needs a global row index).

    copies = #{Poisson CDF cut points <= md5(salt|key)} — the same
    hex-threshold machinery as :func:`hash_fold_expr`, so the resample
    is a pure function of row content: identical across reruns,
    partitionings and engines, and oracle-checkable with plain string
    comparisons (F.rand/sample are physical-layout dependent). The tail
    is clamped at ``max_k`` copies (P[k > 6] < 1e-4 at lam=1).
    Expand rows with ``F.explode(F.sequence(F.lit(1), copies))``
    filtered to copies > 0 to materialize the bag."""
    h = _hash_key(key_cols, salt)
    cums = poisson_pmf_cumsums(lam, max_k)
    copies = F.lit(0)
    for c in cums:
        copies = copies + F.when(h >= F.lit(_hex_threshold(c)), 1).otherwise(0)
    return copies
