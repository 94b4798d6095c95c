"""SGD LR trainer (ml/sgd.py): optimizers, early stop, grid search, k-fold.

Reference semantics: core/dtrain/lr/* worker-gradient + master-optimizer
loop, Weight.java optimizers, earlystop/*. Assertions are behavioral
(loss decreases, separable data converges, early stop fires) — the
reference pins no numeric goldens for training either (SURVEY §5
convergence smoke tests)."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from shifu_spark.ml.sgd import (
    OPTIMIZERS,
    ConvergeEarlyStop,
    WindowEarlyStop,
    lr_score_expr,
    train_lr_sgd,
)


@pytest.fixture(scope="module")
def separable(spark):
    """Linearly separable 2-feature data: y = 1 iff x1 + x2 > 1."""
    df = spark.range(2000).select(
        (F.hash(F.col("id").cast("string")) % 1000 / 1000.0 + 0.5).alias("x1"),
        (F.hash((F.col("id") + 7).cast("string")) % 1000 / 1000.0 + 0.5).alias("x2"),
    )
    return df.withColumn("label", ((F.col("x1") + F.col("x2")) > 1.0).cast("double")).persist()


def test_bgd_loss_decreases(separable):
    res = train_lr_sgd(separable, ["x1", "x2"], optimizer="BGD", learning_rate=0.5, max_epochs=10)
    assert res.epochs_run == 10
    assert res.train_losses[-1] < res.train_losses[0]


@pytest.mark.parametrize("opt", sorted(OPTIMIZERS))
def test_all_optimizers_converge(separable, opt):
    res = train_lr_sgd(separable, ["x1", "x2"], optimizer=opt, learning_rate=0.3, max_epochs=15)
    assert res.train_losses[-1] < res.train_losses[0], f"{opt} did not reduce loss"


def test_separable_accuracy(separable):
    res = train_lr_sgd(separable, ["x1", "x2"], optimizer="ADAM", learning_rate=0.5, max_epochs=40)
    scored = separable.withColumn("p", lr_score_expr(["x1", "x2"], res.weights))
    acc = scored.select(
        F.avg(((F.col("p") > 0.5).cast("double") == F.col("label")).cast("double")).alias("acc")
    ).collect()[0]["acc"]
    assert acc > 0.95


def test_converge_early_stop(separable):
    res = train_lr_sgd(
        separable, ["x1", "x2"], optimizer="BGD", learning_rate=1e-9,
        max_epochs=50, early_stop=ConvergeEarlyStop(threshold=1e-4),
    )
    # lr ~ 0 -> loss flat -> converge stop on epoch 2
    assert res.stopped_early and res.epochs_run == 2


def test_window_early_stop_unit():
    es = WindowEarlyStop(window=3)
    seq = [1.0, 0.9, 0.91, 0.92, 0.93]  # no improvement after epoch 2
    fired = [es.should_stop(v) for v in seq]
    assert fired == [False, False, False, False, True]


def test_window_early_stop_with_validation(separable):
    # lr = 0 -> weights frozen -> validation loss exactly flat -> the
    # window counter fires deterministically after `window` flat epochs
    res = train_lr_sgd(
        separable, ["x1", "x2"], valid_df=separable, optimizer="BGD",
        learning_rate=0.0, max_epochs=30, early_stop=WindowEarlyStop(window=2),
    )
    assert res.stopped_early
    assert res.epochs_run == 3
    assert len(res.valid_losses) == res.epochs_run


def test_grid_search_and_kfold(separable):
    from shifu_spark.ml.train import TrainParams, assemble_features, flatten_grid, grid_search, kfold_cv

    grid = {"max_depth": [2, 3], "trees": [3]}
    assert len(flatten_grid(grid)) == 2

    assembled = assemble_features(separable, ["x1", "x2"], "label")
    results = grid_search(assembled, TrainParams(algorithm="RF", seed=42), grid, 2)
    assert len(results) == 2
    assert all(0.5 <= r["auc"] <= 1.0 for r in results)
    assert results[0]["auc"] >= results[1]["auc"]

    aucs = kfold_cv(assembled, TrainParams(algorithm="LR", num_iterations=20, seed=42), 2, k=3)
    assert len(aucs) == 3
    assert all(a > 0.9 for a in aucs)


def test_fold_gradient_partials_equals_naive_sum(spark):
    """The treeAggregate fold must equal the naive driver-side sum of
    the same partial rows exactly in counts and to float tolerance in
    the folded vectors (cross-partition combine order may differ, so
    sums can drift in ULPs — that is the only permitted difference)."""
    import numpy as np

    from shifu_spark.ml.sgd import fold_gradient_partials

    rng = np.random.default_rng(7)
    width = 33
    rows = [
        (rng.normal(size=width).tolist(), float(rng.random() * 10), int(rng.integers(1, 500)))
        for _ in range(57)
    ]
    parts = spark.createDataFrame(
        rows, "grad array<double>, loss double, n long"
    ).repartition(13)
    g, mean_loss, n = fold_gradient_partials(parts, width)
    want_n = sum(r[2] for r in rows)
    want_g = np.sum([np.asarray(r[0]) for r in rows], axis=0) / want_n
    want_loss = sum(r[1] for r in rows) / want_n
    assert n == want_n
    np.testing.assert_allclose(g, want_g, rtol=1e-12, atol=1e-12)
    assert mean_loss == pytest.approx(want_loss, rel=1e-12)


def test_fold_gradient_partials_empty(spark):
    """Zero partial rows (empty input frame) folds to zeros with the TRUE
    n=0 — NOT the old n=1 sentinel (ADVICE r8): a sentinel made an empty
    epoch's mean loss 0.0, which the early-stop watch read as perfect
    convergence. Trainers skip the step/loss/watch when n == 0."""
    import numpy as np

    from shifu_spark.ml.sgd import fold_gradient_partials

    parts = spark.createDataFrame([], "grad array<double>, loss double, n long")
    g, mean_loss, n = fold_gradient_partials(parts, 5)
    assert n == 0 and mean_loss == 0.0
    np.testing.assert_array_equal(g, np.zeros(5))


def test_lr_epoch_matches_numpy_reference(spark):
    """One LR epoch aggregate (gradient with the L2 term, mean loss, n)
    equals the closed-form numpy superstep, including clipped margins."""
    import numpy as np

    from shifu_spark.ml.sgd import _epoch

    rng = np.random.default_rng(11)
    x = rng.normal(size=(300, 3))
    y = (rng.random(300) < 0.4).astype(np.float64)
    rows = [(*map(float, xi), float(yi)) for xi, yi in zip(x, y)]
    df = spark.createDataFrame(rows, "x1 double, x2 double, x3 double, label double").repartition(4)
    w = np.array([0.5, -1.2, 30.0, 0.3])  # |z| > 35 for many rows
    reg = 0.05

    g, mean_loss, n = _epoch(df, ["x1", "x2", "x3"], "label", w, reg)

    z = np.clip(x @ w[:3] + w[3], -35, 35)
    assert (np.abs(x @ w[:3] + w[3]) > 35).any()
    p = 1.0 / (1.0 + np.exp(-z))
    err = p - y
    want_g = np.append(x.T @ err + reg * len(y) * w[:3], err.sum()) / len(y)
    want_loss = float(np.mean(-(y * np.log(p + 1e-12) + (1 - y) * np.log(1 - p + 1e-12))))
    assert n == len(y)
    np.testing.assert_allclose(g, want_g, rtol=1e-12, atol=0)
    assert mean_loss == pytest.approx(want_loss, rel=1e-12)


def test_lr_epoch_empty_frame(spark):
    """An empty frame is the TRUE n = 0 with zeros and no sentinel loss;
    run_epoch_loop skips the step, the loss record and the watch."""
    import numpy as np

    from shifu_spark.ml.sgd import _epoch

    df = spark.createDataFrame([], "x1 double, x2 double, label double")
    g, mean_loss, n = _epoch(df, ["x1", "x2"], "label", np.array([0.1, 0.2, 0.3]), 0.5)
    assert n == 0 and mean_loss == 0.0
    np.testing.assert_array_equal(g, np.zeros(3))
