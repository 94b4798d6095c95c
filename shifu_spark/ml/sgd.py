"""Distributed logistic-regression SGD with Shifu's optimizer + early-stop set.

Reference: core/dtrain/lr/LogisticRegressionWorker.java:302-340 (workers
accumulate sigmoid gradients over their local data), LogisticRegressionMaster
(averages + applies optimizer), core/dtrain/Weight.java:48-176 (optimizers
BGD / MOMENTUM / ADAGRAD / RMSPROP / ADAM), early stop
core/dtrain/earlystop/WindowEarlyStop.java and
ConvergeAndValidToleranceEarlyStop.java + core/ConvergeJudger.java.

Spark shape — the BSP superstep becomes one aggregate per epoch:
  LR       = ONE Catalyst ``agg`` over the cached frame (``_epoch``):
             sum((p−y)·x_i) per feature, sum(p−y), sum(loss) and count,
             with p and loss column expressions of the epoch's weights
             (``_lr_forward``). Whole-stage codegen runs the forward
             pass in the JVM and partial aggregation folds each task to
             one row, so one summed row reaches the driver, which adds
             the L2 term reg·n·w and applies the optimizer. An epoch at
             this scale costs its fixed overhead, not its arithmetic: a
             Python worker per task plus a Python-RDD fan-in took
             0.21–0.26 s per epoch call, the aggregate 0.13–0.16 s
             (14.5k rows, 4 cores). The aggregate is d+3 columns wide,
             so it fits the dense few-feature frames this trainer
             serves; the pipeline's wide LR is MLlib's.
  NN, W&D  = backprop is no column expression, so workers are
             ``mapInPandas`` partial gradients (Arrow-batched numpy, one
             (grad, loss, n) row per TASK) and the partials fold IN
             SPARK via ``treeAggregate`` (fold_gradient_partials).
  broadcast = the new weight vector rides into the next epoch's plan.

This is MLlib's own aggregate-broadcast iteration; we keep our own
epoch loop because MLlib exposes no generic early-stop callback (SURVEY
§2.10). Cache the input once — every epoch re-reads it.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Optimizers (Weight.java:48-176)
# ---------------------------------------------------------------------------


class Optimizer:
    """update(weights, grad) -> new weights. State lives on the driver —
    the master applies the optimizer, workers only compute gradients."""

    def __init__(self, learning_rate: float = 0.1):
        self.lr = learning_rate

    def update(self, w: np.ndarray, g: np.ndarray) -> np.ndarray:
        raise NotImplementedError


class BGD(Optimizer):
    def update(self, w: np.ndarray, g: np.ndarray) -> np.ndarray:
        return w - self.lr * g


class Momentum(Optimizer):
    def __init__(self, learning_rate: float = 0.1, momentum: float = 0.9):
        super().__init__(learning_rate)
        self.momentum = momentum
        self.v: np.ndarray | None = None

    def update(self, w: np.ndarray, g: np.ndarray) -> np.ndarray:
        if self.v is None:
            self.v = np.zeros_like(w)
        self.v = self.momentum * self.v - self.lr * g
        return w + self.v


class AdaGrad(Optimizer):
    def __init__(self, learning_rate: float = 0.1, eps: float = 1e-8):
        super().__init__(learning_rate)
        self.eps = eps
        self.h: np.ndarray | None = None

    def update(self, w: np.ndarray, g: np.ndarray) -> np.ndarray:
        if self.h is None:
            self.h = np.zeros_like(w)
        self.h = self.h + g * g
        return w - self.lr * g / (np.sqrt(self.h) + self.eps)


class RMSProp(Optimizer):
    def __init__(self, learning_rate: float = 0.1, decay: float = 0.9, eps: float = 1e-8):
        super().__init__(learning_rate)
        self.decay = decay
        self.eps = eps
        self.h: np.ndarray | None = None

    def update(self, w: np.ndarray, g: np.ndarray) -> np.ndarray:
        if self.h is None:
            self.h = np.zeros_like(w)
        self.h = self.decay * self.h + (1 - self.decay) * g * g
        return w - self.lr * g / (np.sqrt(self.h) + self.eps)


class Adam(Optimizer):
    def __init__(self, learning_rate: float = 0.1, beta1: float = 0.9, beta2: float = 0.999, eps: float = 1e-8):
        super().__init__(learning_rate)
        self.beta1, self.beta2, self.eps = beta1, beta2, eps
        self.m: np.ndarray | None = None
        self.v: np.ndarray | None = None
        self.t = 0

    def update(self, w: np.ndarray, g: np.ndarray) -> np.ndarray:
        if self.m is None:
            self.m = np.zeros_like(w)
            self.v = np.zeros_like(w)
        self.t += 1
        self.m = self.beta1 * self.m + (1 - self.beta1) * g
        self.v = self.beta2 * self.v + (1 - self.beta2) * g * g
        mh = self.m / (1 - self.beta1**self.t)
        vh = self.v / (1 - self.beta2**self.t)
        return w - self.lr * mh / (np.sqrt(vh) + self.eps)


OPTIMIZERS = {"BGD": BGD, "MOMENTUM": Momentum, "ADAGRAD": AdaGrad, "RMSPROP": RMSProp, "ADAM": Adam}


# ---------------------------------------------------------------------------
# Early stopping (earlystop/WindowEarlyStop.java, ConvergeAndValidTolerance)
# ---------------------------------------------------------------------------


class WindowEarlyStop:
    """Stop when validation error hasn't improved for ``window`` epochs
    (WindowEarlyStop.java: ignoreValue buffer of size windowSize)."""

    def __init__(self, window: int = 5):
        self.window = window
        self.best = float("inf")
        self.since_best = 0

    def should_stop(self, valid_error: float) -> bool:
        if valid_error < self.best:
            self.best = valid_error
            self.since_best = 0
        else:
            self.since_best += 1
        return self.since_best >= self.window


class ConvergeEarlyStop:
    """Stop when |train_error − last| < threshold (ConvergeJudger.java
    semantics: consecutive-epoch loss delta under tolerance)."""

    def __init__(self, threshold: float = 1e-6):
        self.threshold = threshold
        self.last: float | None = None

    def should_stop(self, train_error: float) -> bool:
        prev, self.last = self.last, train_error
        return prev is not None and abs(prev - train_error) < self.threshold


# ---------------------------------------------------------------------------
# Trainer
# ---------------------------------------------------------------------------


@dataclass
class SGDResult:
    weights: list[float]  # [w_0..w_{d-1}, bias]
    train_losses: list[float] = field(default_factory=list)
    valid_losses: list[float] = field(default_factory=list)
    epochs_run: int = 0
    stopped_early: bool = False


def mixed_sample_seed(*entries: int) -> int:
    """31-bit Spark sample seed hash-mixed from integer seed entries.

    Shared by the NN and W&D trainers' per-epoch Spark-side subsampling.
    Mixing matters twice over: (a) bagged training draws bag b with
    ``df.sample(seed=seed+bag)`` and then trains with seed+bag, so a raw
    seed+epoch sample seed would share the bag sampler's Bernoulli
    stream at epoch 0 and bias the first epoch toward the bag's
    survivors; (b) the trainer's own seed and the epoch index must enter
    as SEPARATE entries — a pre-summed seed+epoch collides across bags
    wherever bag+epoch sums coincide ((b=0,e=1) vs (b=1,e=0)),
    correlating the bagged models' subsamples."""
    return int(np.random.default_rng((0x5A11, *entries)).integers(2**31 - 1))


def fold_gradient_partials(parts: DataFrame, width: int):
    """Sum (grad array<double>, loss double, n long) partial rows IN SPARK
    via RDD ``treeAggregate``: each task folds its local partial rows into
    one running numpy vector, combiners merge task results in a tree, and
    exactly ONE (grad, loss, n) triple reaches the driver — O(weights)
    driver traffic, independent of batch count.  Shared by the NN and
    Wide&Deep trainers, whose backprop partials come from Python workers
    (the Guagua master fan-in, NNMaster.java:72-300 / WDLMaster.java,
    expressed as a tree-reduce); LR's forward pass is a column
    expression, so its fan-in is a Catalyst aggregate instead (_epoch).
    This replaces both the
    driver-side collect()+sum (a fan-in of #batches x weight-vector — the
    W&D weight vector embeds whole embedding tables, so at 100 TB that
    collect was the scale-killer) and the earlier single-task
    ``collect_list`` fold (which materialized every batch gradient in one
    executor before folding).

    Returns (mean gradient, mean loss, n)."""

    def seq(acc, row):
        return (acc[0] + np.asarray(row["grad"]), acc[1] + row["loss"], acc[2] + row["n"])

    def comb(a, b):
        return (a[0] + b[0], a[1] + b[1], a[2] + b[2])

    zero = (np.zeros(width), 0.0, 0)
    rdd = parts.rdd
    # depth 2 inserts a whole extra shuffle round purely to bound the
    # driver-side fan-in; with few partitions that fan-in is already
    # tiny (<= 64 partial rows of O(weights) each), so the extra stage
    # is pure per-epoch overhead — measured one full Spark stage per
    # epoch at sf0.1 (r12, guide §1.2: remove passes before tuning).
    # On a real cluster (hundreds+ of tasks) depth 2 keeps the fan-in
    # tree — the threshold adapts to the actual partition count, not a
    # local[32]-specific constant.
    depth = 1 if rdd.getNumPartitions() <= 64 else 2
    g, loss, n = rdd.treeAggregate(zero, seq, comb, depth=depth)
    if n == 0:
        # an empty epoch (Spark-side epoch_sample_rate can legitimately
        # draw zero rows from a small frame) must surface as the TRUE
        # n=0, not a sentinel (zeros, loss=0.0, n=1): a 0.0 loss looks
        # like perfect convergence to the early-stop watch —
        # WindowEarlyStop would latch it as best-so-far and
        # ConvergeEarlyStop would stop immediately. Callers skip the
        # optimizer step / loss append / watch when n == 0.
        return g, 0.0, 0
    return g / n, loss / n, n


def run_epoch_loop(
    w: np.ndarray,
    opt: Optimizer,
    max_epochs: int,
    grad_fn,
    record,
    valid_fn=None,
    early_stop=None,
) -> np.ndarray:
    """Shared trainer epoch driver (LR / NN / Wide&Deep) — overlaps
    epoch k's validation pass with epoch k+1's gradient pass.

    ``grad_fn(w, epoch) -> (g, mean_loss, n)`` runs one superstep at the
    given weights; ``valid_fn(w) -> (loss, n)`` is the forward-only
    validation watch; ``record`` carries the shared bookkeeping fields
    (train_losses / valid_losses / epochs_run / stopped_early).  Returns
    the final weight vector.

    Overlap (guide §2.6, VERDICT r12 item 4): epochs are inherently
    sequential (w_{k+1} needs g_k), but the validation job of epoch k
    only needs w_{k+1} — which epoch k+1's gradient job also reads and
    never mutates — so the two are independent Spark jobs and run
    concurrently from a 1-worker thread pool (inheritable_thread_target
    keeps job-group tagging deterministic).  The early-stopping read is
    guarded: epoch k's watch is resolved BEFORE epoch k+1's optimizer
    step, and a stop decision discards the speculative gradient without
    touching the record — train_losses / valid_losses / epochs_run /
    stopped_early and every early-stop state transition are identical
    to the sequential loop (the only cost of a stop is one wasted
    speculative pass).  ``valid_fn`` receives the weight vector as an
    argument at submit time, so the pool thread never races the main
    thread's weight update.  With no ``valid_fn`` the loop is purely
    sequential — nothing is submitted and no pool is created.
    """
    pool = None
    pending: tuple[float, object] | None = None  # (train_loss, future)

    def _resolve(p) -> bool:
        """Harvest the deferred valid result for the last stepped epoch;
        True = early stop fired (caller discards any speculative g)."""
        train_loss, fut = p
        vloss, vn = fut.result()
        watch = train_loss
        if vn > 0:
            record.valid_losses.append(vloss)
            watch = vloss
        if early_stop is not None and early_stop.should_stop(watch):
            record.stopped_early = True
            return True
        return False

    try:
        if valid_fn is not None:
            from concurrent.futures import ThreadPoolExecutor

            from pyspark import inheritable_thread_target
            from pyspark.sql import SparkSession

            pool = ThreadPoolExecutor(max_workers=1)
            # session form also inherits session tags (and avoids the
            # "Tags will not be inherited" warning under pinned threads)
            sess = SparkSession.getActiveSession()
            wrapped_valid = (
                inheritable_thread_target(sess)(valid_fn)
                if sess is not None
                else inheritable_thread_target(valid_fn)
            )
        for epoch in range(max_epochs):
            g, train_loss, n = grad_fn(w, epoch)
            if pending is not None:
                stopped = _resolve(pending)
                pending = None
                if stopped:
                    return w  # discard the speculative gradient
            if n == 0:
                # empty Spark-side epoch subsample: no step, no loss
                # record, no watch — a sentinel 0.0 loss would read as
                # perfect convergence and falsely latch the early stop
                record.epochs_run += 1
                continue
            w = opt.update(w, g)
            record.train_losses.append(train_loss)
            record.epochs_run += 1
            if valid_fn is None:
                if early_stop is not None and early_stop.should_stop(train_loss):
                    record.stopped_early = True
                    return w
            else:
                pending = (train_loss, pool.submit(wrapped_valid, w))
        if pending is not None:
            _resolve(pending)  # final epoch's valid loss + stop flag
    finally:
        if pool is not None:
            pool.shutdown(wait=True)
    return w


def _lr_margin(feature_cols: list[str], w) -> Column:
    """z = w·x + b as a column expression over the [w..., b] layout."""
    z = F.lit(float(w[len(feature_cols)]))
    for i, c in enumerate(feature_cols):
        z = z + F.col(c).cast("double") * float(w[i])
    return z


def _lr_forward(feature_cols: list[str], label_col: str, w: np.ndarray) -> tuple[Column, Column, Column]:
    """(p, y, loss) columns of the training forward pass: z clipped to
    ±35, p = sigmoid(z), loss = −[y·log(p+ε)+(1−y)·log(1−p+ε)],
    ε = 1e-12 — shared by the gradient and the validation watch so the
    two read the same loss."""
    z = F.greatest(F.least(_lr_margin(feature_cols, w), F.lit(35.0)), F.lit(-35.0))
    p = 1.0 / (1.0 + F.exp(-z))
    y = F.col(label_col).cast("double")
    eps = 1e-12
    return p, y, -(y * F.log(p + eps) + (1.0 - y) * F.log(1.0 - p + eps))


def _epoch(df: DataFrame, feature_cols: list[str], label_col: str, w: np.ndarray, reg: float):
    """Run one superstep as ONE aggregate: returns (mean gradient, mean
    loss, n). The L2 term reg·n·w is data-independent, so the driver
    adds it once. An empty frame returns the TRUE n = 0 (zeros, 0.0, 0)
    — the caller skips the step, as for fold_gradient_partials."""
    d = len(feature_cols)
    p, y, loss = _lr_forward(feature_cols, label_col, w)
    err = p - y
    row = df.agg(
        *[F.sum(err * F.col(c).cast("double")) for c in feature_cols],
        F.sum(err), F.sum(loss), F.count(F.lit(1)),
    ).collect()[0]
    n = int(row[d + 2])
    if n == 0:
        return np.zeros(d + 1), 0.0, 0
    g = np.array(row[: d + 1], dtype=np.float64)
    g[:d] += reg * n * w[:d]
    return g / n, float(row[d + 1]) / n, n


def _lr_valid_loss(valid_df: DataFrame, feature_cols: list[str], label_col: str,
                   w: np.ndarray) -> tuple[float, int]:
    """Forward-only validation loss (loss, n): the gradient's forward
    pass (_lr_forward) summed with no gradient columns."""
    _, _, loss = _lr_forward(feature_cols, label_col, w)
    row = valid_df.agg(
        F.sum(loss).alias("loss"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    n = int(row["n"] or 0)
    return (float(row["loss"]) / n if n else 0.0), n


def train_lr_sgd(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str = "label",
    valid_df: DataFrame | None = None,
    optimizer: str = "ADAM",
    learning_rate: float = 0.1,
    max_epochs: int = 50,
    reg: float = 0.0,
    early_stop: WindowEarlyStop | ConvergeEarlyStop | None = None,
    seed: int = 42,
) -> SGDResult:
    """Full-batch distributed LR with pluggable optimizer + early stop.

    ``df`` is cached for the duration of the loop (every epoch re-reads).
    Validation loss (when ``valid_df`` given) feeds WindowEarlyStop the way
    the reference feeds validation error to the master.
    """
    rng = np.random.default_rng(seed)
    d = len(feature_cols)
    w = rng.normal(0.0, 0.01, d + 1)
    opt = OPTIMIZERS[optimizer](learning_rate)
    res = SGDResult(weights=w.tolist())

    df = df.select(*feature_cols, label_col).persist()
    if valid_df is not None:
        valid_df = valid_df.select(*feature_cols, label_col).persist()
    try:
        vdf = valid_df

        def grad_fn(cur_w, _epoch_idx):
            return _epoch(df, feature_cols, label_col, cur_w, reg)

        valid_fn = (
            (lambda cur_w: _lr_valid_loss(vdf, feature_cols, label_col, cur_w))
            if valid_df is not None
            else None
        )
        # epoch k's validation job overlaps epoch k+1's gradient job;
        # bookkeeping identical to the sequential loop (run_epoch_loop)
        w = run_epoch_loop(w, opt, max_epochs, grad_fn, res, valid_fn, early_stop)
    finally:
        df.unpersist()
        if valid_df is not None:
            valid_df.unpersist()
    res.weights = w.tolist()
    return res


def lr_score_expr(feature_cols: list[str], weights: list[float]):
    """sigmoid(w·x + b) as a pure column expression (broadcast weights)."""
    return 1.0 / (1.0 + F.exp(-_lr_margin(feature_cols, weights)))
