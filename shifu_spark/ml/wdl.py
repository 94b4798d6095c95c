"""Wide & Deep training/scoring — the last §2.10 training family.

Reference: core/dtrain/wdl/WideAndDeep.java:163-202 (forward: wide logits
and deep logits are computed independently and SUMMED — ``logits[i] =
wlLogits[i] + dnnLogits[i]`` — with the sigmoid applied on the combined
logit by the loss side, WDLWorker gradient = p - y), WideLayer.java:85-114
(wide part = per-sparse-field one-hot weight lookups + a linear layer over
the dense inputs + a bias, all summed), EmbedFieldLayer.java (deep part's
per-category embedding row lookup), EmbedLayer.java (field embeddings are
CONCATENATED with the dense inputs to form the DNN input),
WDLMaster.java/WDLWorker.java (the same Guagua BSP as nn: workers compute
gradients on local data, master averages and applies the optimizer).

Spark-first mapping (same superstep as ml/nn.py):

  workers = ``mapInPandas`` partial gradients — one flat (gradient, loss,
            n) row per TASK (Arrow batches fold locally in order);
  fan-in  = partials fold IN SPARK via ``treeAggregate``
            (sgd.fold_gradient_partials): ONE summed row reaches the
            driver per epoch — essential here because the flat vector
            embeds the whole embedding tables (sum(card) x embed_dim);
            the driver applies a Weight.java optimizer (OPTIMIZERS from
            ml/sgd.py); next epoch's closure carries the new flat weight
            vector (broadcast-by-closure).

Sparse fields enter as INTEGER CATEGORY INDICES (the reference's
SparseInput carries exactly (columnId, valueIndex)); the one-hot is never
materialized — wide lookups index the weight table and embedding gradients
scatter-add into the embedding rows actually seen (np.add.at), which is
the whole point of the wide-sparse design at 100 TB: gradient cost scales
with rows, not with rows x cardinality.

Flat weight layout (read back with ``_unflatten_wdl``):
  [wide field weights (card_f per sparse field f)] ++ [wide dense weights]
  ++ [wide bias] ++ [embedding tables (card_f x embed_dim, row-major)]
  ++ [deep MLP mats per ml/nn._shapes([deep_in, *hidden, 1])]
where deep_in = n_dense + n_sparse * embed_dim and the deep output layer
is LINEAR (the reference's finalLayer is a plain dense layer — the
sigmoid lives on the combined logit).
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from shifu_spark.ml.nn import ACTIVATIONS, _shapes, _sigmoid, _unflatten
from shifu_spark.ml.sgd import (
    OPTIMIZERS,
    fold_gradient_partials,
    mixed_sample_seed,
    run_epoch_loop,
)


@dataclass
class WDLModel:
    dense_cols: list[str]
    sparse_cols: list[str]
    cardinalities: list[int]  # per sparse col; category indices in [0, card)
    embed_dim: int
    hidden_layers: list[int]
    hidden_activation: str
    weights: list[float]  # flat vector per the module-docstring layout
    train_losses: list[float] = field(default_factory=list)
    valid_losses: list[float] = field(default_factory=list)
    epochs_run: int = 0
    stopped_early: bool = False

    @property
    def deep_layers(self) -> list[int]:
        deep_in = len(self.dense_cols) + len(self.sparse_cols) * self.embed_dim
        return [deep_in, *list(self.hidden_layers), 1]

    @property
    def deep_acts(self) -> list[str]:
        return [self.hidden_activation] * len(self.hidden_layers) + ["LINEAR"]


def _n_weights(n_dense: int, cards: list[int], embed_dim: int, deep_layers: list[int]) -> int:
    wide = sum(cards) + n_dense + 1
    embed = sum(c * embed_dim for c in cards)
    deep = sum(r * c for r, c in _shapes(deep_layers))
    return wide + embed + deep


def _unflatten_wdl(w: np.ndarray, n_dense: int, cards: list[int], embed_dim: int,
                   deep_layers: list[int]):
    """-> (wide_fields[list of (card,)], wide_dense (n_dense,), wide_bias,
    embeds[list of (card, embed_dim)], deep mats)."""
    off = 0
    wide_fields = []
    for c in cards:
        wide_fields.append(w[off:off + c])
        off += c
    wide_dense = w[off:off + n_dense]
    off += n_dense
    wide_bias = w[off]
    off += 1
    embeds = []
    for c in cards:
        embeds.append(w[off:off + c * embed_dim].reshape(c, embed_dim))
        off += c * embed_dim
    mats = _unflatten(w[off:], deep_layers)
    return wide_fields, wide_dense, wide_bias, embeds, mats


def _wdl_forward(xd: np.ndarray, xs: np.ndarray, w: np.ndarray, n_dense: int,
                 cards: list[int], embed_dim: int, deep_layers: list[int],
                 deep_acts: list[str]):
    """Returns (p, cache) — cache holds what backprop needs.

    xd: (n, n_dense) float; xs: (n, n_sparse) int category indices.
    WideAndDeep.java:163-202 combine: p = sigmoid(wide_logit + deep_logit).
    """
    for f, c in enumerate(cards):
        col = xs[:, f]
        if len(col) and (col.min() < 0 or col.max() >= c):
            raise ValueError(
                f"wdl: sparse field {f} has category index outside [0, {c}) "
                "(negative numpy indices would silently wrap)"
            )
    wide_fields, wide_dense, wide_bias, embeds, mats = _unflatten_wdl(
        w, n_dense, cards, embed_dim, deep_layers)
    wide = xd @ wide_dense + wide_bias
    for f, wf in enumerate(wide_fields):
        wide = wide + wf[xs[:, f]]
    # deep input: [dense ++ concat(embedding rows)] (EmbedLayer concat)
    deep_in = np.concatenate(
        [xd] + [embeds[f][xs[:, f]] for f in range(len(cards))], axis=1)
    zs, as_ = [], [deep_in]
    a = deep_in
    for i, m in enumerate(mats):
        z = a @ m[:-1] + m[-1]
        fwd, _ = ACTIVATIONS[deep_acts[i]]
        a = fwd(z)
        zs.append(z)
        as_.append(a)
    logit = wide + a[:, 0]
    p = _sigmoid(logit)
    return p, (wide_fields, wide_dense, wide_bias, embeds, mats, zs, as_)


def _wdl_backprop(xd, xs, y, w, n_dense, cards, embed_dim, deep_layers, deep_acts):
    """Batch gradient of binary log-loss wrt the FLAT vector.

    The combined sigmoid + log-loss cancels to dL/dlogit = p - y, and the
    sum-combine (WideAndDeep.java:197-200) routes that SAME delta into
    both halves unchanged: wide gradients are index scatter-adds, deep
    gradients are standard MLP backprop whose input-layer delta slices
    scatter-add into the embedding rows (WDLWorker's backward pass).
    Returns (flat_grad, loss)."""
    p, (wide_fields, wide_dense, wide_bias, embeds, mats, zs, as_) = _wdl_forward(
        xd, xs, w, n_dense, cards, embed_dim, deep_layers, deep_acts)
    eps = 1e-12
    loss = float(-(y * np.log(p + eps) + (1 - y) * np.log(1 - p + eps)).sum())
    delta = p - y  # (n,) dL/dlogit — shared by both halves

    # wide gradients
    g_fields = [np.zeros_like(wf) for wf in wide_fields]
    for f in range(len(cards)):
        np.add.at(g_fields[f], xs[:, f], delta)
    g_dense = xd.T @ delta
    g_bias = delta.sum()

    # deep gradients — output layer is LINEAR so delta enters unscaled
    d = delta[:, None]
    g_mats = [np.empty_like(m) for m in mats]
    for i in range(len(mats) - 1, -1, -1):
        g_mats[i][:-1] = as_[i].T @ d
        g_mats[i][-1] = d.sum(axis=0)
        d = d @ mats[i][:-1].T
        if i > 0:
            _, bwd = ACTIVATIONS[deep_acts[i - 1]]
            d = d * bwd(zs[i - 1], as_[i])
    # d is now (n, deep_in): dense slice is data (no grad), embedding
    # slices scatter-add into the rows each example looked up
    g_embeds = [np.zeros_like(e) for e in embeds]
    off = n_dense
    for f, c in enumerate(cards):
        np.add.at(g_embeds[f], xs[:, f], d[:, off:off + embed_dim])
        off += embed_dim
    flat = np.concatenate(
        [g.ravel() for g in g_fields]
        + [g_dense.ravel(), np.asarray([g_bias])]
        + [g.ravel() for g in g_embeds]
        + [g.ravel() for g in g_mats]
    )
    return flat, loss


def _partial_grad_udf(dense_cols, sparse_cols, label_col, w, n_dense, cards,
                      embed_dim, deep_layers, deep_acts):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        wv = np.asarray(w)
        # per-TASK fold: batches accumulate in arrival order, one row out
        acc_g, acc_loss, acc_n = None, 0.0, 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            xd = pdf[dense_cols].to_numpy(dtype=np.float64)
            xs = pdf[sparse_cols].to_numpy(dtype=np.int64)
            y = pdf[label_col].to_numpy(dtype=np.float64)
            g, loss = _wdl_backprop(
                xd, xs, y, wv, n_dense, cards, embed_dim, deep_layers, deep_acts)
            acc_g = g if acc_g is None else acc_g + g
            acc_loss += loss
            acc_n += len(y)
        if acc_n:
            yield pd.DataFrame({"grad": [acc_g.tolist()], "loss": [acc_loss], "n": [acc_n]})

    return fn


def _valid_loss_udf(dense_cols, sparse_cols, label_col, w, n_dense, cards,
                    embed_dim, deep_layers, deep_acts):
    """Forward-ONLY (loss, n) per task — validation never needs the
    gradient, so it must not pay the backward pass nor ship the
    O(weights) vector (embedding tables included) through the fan-in;
    the scalar pair aggregates with plain Catalyst partial agg."""
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        wv = np.asarray(w)
        acc_loss, acc_n = 0.0, 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            xd = pdf[dense_cols].to_numpy(dtype=np.float64)
            xs = pdf[sparse_cols].to_numpy(dtype=np.int64)
            y = pdf[label_col].to_numpy(dtype=np.float64)
            p, _ = _wdl_forward(
                xd, xs, wv, n_dense, cards, embed_dim, deep_layers, deep_acts)
            eps = 1e-12
            acc_loss += float(-(y * np.log(p + eps) + (1 - y) * np.log(1 - p + eps)).sum())
            acc_n += len(y)
        if acc_n:
            yield pd.DataFrame({"loss": [acc_loss], "n": [acc_n]})

    return fn


def train_wdl(
    df: DataFrame,
    dense_cols: list[str],
    sparse_cols: list[str],
    cardinalities: list[int],
    label_col: str = "label",
    embed_dim: int = 4,
    hidden_layers: list[int] = (8,),
    hidden_activation: str = "RELU",
    optimizer: str = "ADAM",
    learning_rate: float = 0.05,
    max_epochs: int = 20,
    epoch_sample_rate: float = 1.0,
    valid_df: DataFrame | None = None,
    early_stop=None,
    seed: int = 42,
) -> WDLModel:
    """Distributed Wide&Deep for binary targets.

    ``epoch_sample_rate`` = 1.0 is full-batch; < 1.0 makes each superstep
    a stochastic MINI-BATCH — a fresh Bernoulli sample of the cached
    frame per epoch, taken SPARK-SIDE so dropped rows never cross the
    Arrow boundary (the reference's WDLWorker iterates on per-superstep
    subsamples the same way AbstractNNWorker's sampleRate does), so the
    master's update is SGD over ~rate of the data per step.
    ``valid_df`` + ``early_stop`` (WindowEarlyStop / ConvergeEarlyStop
    from ml/sgd.py) give W&D the same validation-watched early stopping
    as the LR and NN trainers — the reference's WDLMaster feeds
    validation error to the same earlystop set (WDLParallelGradient
    computes train AND validation error per superstep).
    ``sparse_cols`` must hold integer category indices in
    [0, cardinality) — out-of-range indices raise in the worker (the
    reference's SparseInput carries pre-validated valueIndex)."""
    if len(sparse_cols) != len(cardinalities):
        raise ValueError("wdl: sparse_cols and cardinalities must align")
    if not dense_cols and not sparse_cols:
        raise ValueError("wdl: model has no feature columns")
    deep_layers = [len(dense_cols) + len(sparse_cols) * embed_dim,
                   *list(hidden_layers), 1]
    deep_acts = [hidden_activation] * len(hidden_layers) + ["LINEAR"]
    rng = np.random.default_rng(seed)
    n_w = _n_weights(len(dense_cols), cardinalities, embed_dim, deep_layers)
    # small symmetric init everywhere (WeightInitializer.java range init);
    # wide weights start at zero like the reference's default
    n_wide = sum(cardinalities) + len(dense_cols) + 1
    w = np.concatenate([
        np.zeros(n_wide),
        (rng.random(n_w - n_wide) * 2.0 - 1.0) * 0.5,
    ])
    opt = OPTIMIZERS[optimizer](learning_rate)
    model = WDLModel(
        dense_cols=list(dense_cols), sparse_cols=list(sparse_cols),
        cardinalities=list(cardinalities), embed_dim=embed_dim,
        hidden_layers=list(hidden_layers), hidden_activation=hidden_activation,
        weights=w.tolist(),
    )
    cols = [*dense_cols, *sparse_cols, label_col]
    df = df.select(*cols).persist()
    if valid_df is not None:
        valid_df = valid_df.select(*cols).persist()
    try:
        schema = "grad array<double>, loss double, n long"

        def _superstep(frame, cur_w, sample_rate=1.0, epoch=0):
            # mini-batch = SPARK-SIDE Bernoulli sample of the cached frame
            # (fresh seed per epoch): rows dropped by the sample never pay
            # Arrow transfer or pandas conversion — JVM-side filter on the
            # cache, unlike an in-UDF mask which ships everything. Same
            # per-worker per-superstep subsample regime as WDLWorker; seed
            # derivation rationale lives with mixed_sample_seed (sgd.py)
            if sample_rate < 1.0:
                frame = frame.sample(
                    withReplacement=False, fraction=sample_rate,
                    seed=mixed_sample_seed(seed, epoch),
                )
            parts = frame.mapInPandas(
                _partial_grad_udf(
                    dense_cols, sparse_cols, label_col, cur_w, len(dense_cols),
                    cardinalities, embed_dim, deep_layers, deep_acts),
                schema=schema,
            )
            # partials fold in Spark (treeAggregate, sgd.py) — one row
            # reaches the driver; critical here because the W&D flat
            # vector embeds whole embedding tables (sum(card)*embed_dim)
            return fold_gradient_partials(parts, cur_w.size)

        vdf = valid_df

        def grad_fn(cur_w, epoch):
            return _superstep(df, cur_w, epoch_sample_rate, epoch)

        def _valid(cur_w):
            # forward-only pass: scalar (loss, n) per task, Catalyst
            # partial agg — no backward, no O(weights) payload
            row = vdf.mapInPandas(
                _valid_loss_udf(
                    dense_cols, sparse_cols, label_col, cur_w, len(dense_cols),
                    cardinalities, embed_dim, deep_layers, deep_acts),
                schema="loss double, n long",
            ).agg(F.sum("loss").alias("loss"), F.sum("n").alias("n")).collect()[0]
            n = int(row["n"] or 0)
            return (row["loss"] / n if n else 0.0), n

        # epoch k's validation job overlaps epoch k+1's gradient job;
        # bookkeeping identical to the sequential loop (sgd.run_epoch_loop)
        w = run_epoch_loop(
            w, opt, max_epochs, grad_fn, model,
            _valid if valid_df is not None else None, early_stop,
        )
    finally:
        df.unpersist()
        if valid_df is not None:
            valid_df.unpersist()
    model.weights = w.tolist()
    return model


def wdl_score_udf(model: WDLModel):
    """Vectorized scorer over the fitted model (weights ride the pandas_udf
    closure — the broadcast-model pattern of EvalScoreUDF scoring).
    Column order: dense_cols then sparse_cols."""
    from pyspark.sql.functions import pandas_udf

    w = np.asarray(model.weights)
    n_dense = len(model.dense_cols)
    cards = list(model.cardinalities)
    embed_dim = model.embed_dim
    deep_layers = model.deep_layers
    deep_acts = model.deep_acts

    if not model.dense_cols and not model.sparse_cols:
        raise ValueError("wdl: model has no feature columns")

    @pandas_udf("double")
    def score(*cols: pd.Series) -> pd.Series:
        n = len(cols[0])
        # np.column_stack([]) raises — a dense-only or sparse-only model
        # (both are legitimate: the wide half alone is plain sparse LR)
        # needs an explicit (n, 0) empty side
        xd = (
            np.column_stack([c.to_numpy(dtype=np.float64) for c in cols[:n_dense]])
            if n_dense
            else np.empty((n, 0))
        )
        xs = (
            np.column_stack([c.to_numpy(dtype=np.int64) for c in cols[n_dense:]])
            if len(cols) > n_dense
            else np.empty((n, 0), dtype=np.int64)
        )
        p, _ = _wdl_forward(xd, xs, w, n_dense, cards, embed_dim,
                            deep_layers, deep_acts)
        return pd.Series(p)

    return score(*[F.col(c) for c in [*model.dense_cols, *model.sparse_cols]])


def train_wdl_bagged(
    df: DataFrame,
    dense_cols: list[str],
    sparse_cols: list[str],
    cardinalities: list[int],
    bags: int = 3,
    bag_fraction: float = 0.8,
    seed: int = 42,
    **train_kwargs,
) -> list[WDLModel]:
    """Bagging for Wide&Deep: one model per seeded resample — the same
    shape as train_nn_bagged (TrainModelProcessor.java:931-942 runs N
    parallel Guagua jobs regardless of model family; the reference's
    Scorer treats every family uniformly). A passed ``early_stop`` is
    STATEFUL (best-so-far / last-loss), so each bag gets its own fresh
    copy — sharing one instance would let bag 0's final state stop bag
    1 spuriously."""
    import copy

    models = []
    for bag in range(bags):
        kw = dict(train_kwargs)
        if kw.get("early_stop") is not None:
            kw["early_stop"] = copy.deepcopy(kw["early_stop"])
        models.append(
            train_wdl(
                df.sample(withReplacement=False, fraction=bag_fraction, seed=seed + bag),
                dense_cols, sparse_cols, cardinalities,
                seed=seed + bag,
                **kw,
            )
        )
    return models


def score_wdl_ensemble(
    df: DataFrame,
    models: list[WDLModel],
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Bagged-W&D ensemble scoring: model0..N columns via the Arrow
    scorer (each model's flat weights ride a pandas_udf closure — the
    broadcast-model pattern of EvalScoreUDF.java:237-247), then the
    SHARED mean/max/min/median array expressions
    (ml/train.with_ensemble_stats, ScoreObject.java:35-74) — W&D
    composes with bagging exactly like NN/LR/RF because
    core/Scorer.java:129-210 dispatches on model family only to produce
    the per-model score, never in the aggregation."""
    from shifu_spark.ml.train import with_ensemble_stats

    out = df
    score_cols = []
    for i, m in enumerate(models):
        col = f"model{i}"
        out = out.withColumn(col, wdl_score_udf(m))
        score_cols.append(col)
    return with_ensemble_stats(out, score_cols, keep_cols)
