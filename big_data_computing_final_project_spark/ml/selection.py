"""Model selection (SURVEY.md §2.8 M8-M10): grid search, seeded random
search, and k-fold CV — all via `CrossValidator` with `parallelism` doing
what the reference's `n_jobs=-1` did, but across executors.
"""

from __future__ import annotations

import random
from typing import Any

from pyspark.ml import Estimator
from pyspark.ml.param import Param
from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

SEED = 42


def f1_evaluator(label_col: str = "label"):
    """CV ranking metric = the reference's ``scoring='f1_macro'``
    (`Sol_2.ipynb:595-601`, contract metric `task_2.md:24`). Spark's
    built-in "f1" is weighted-by-support — on a skewed label weighted and
    macro F1 can pick DIFFERENT grid winners (pinned by
    tests/test_ml.py::test_macro_vs_weighted_f1_rank_differently) — so
    ranking uses the macro evaluator built on ml.evaluation's confusion
    aggregate."""
    from .evaluation import MacroF1Evaluator

    return MacroF1Evaluator(labelCol=label_col)


def grid_search(
    estimator: Estimator,
    grid: dict[Param, list[Any]],
    num_folds: int = 3,
    parallelism: int = 4,
    label_col: str = "label",
) -> CrossValidator:
    """M8 — `GridSearchCV(cv=3, scoring='f1_macro', n_jobs=-1)`
    (`Sol_2.ipynb:578-600`)."""
    b = ParamGridBuilder()
    for p, vals in grid.items():
        b = b.addGrid(p, vals)
    return CrossValidator(
        estimator=estimator,
        estimatorParamMaps=b.build(),
        evaluator=f1_evaluator(label_col),
        numFolds=num_folds,
        parallelism=parallelism,
        seed=SEED,
    )


def random_search(
    estimator: Estimator,
    distributions: dict[Param, list[Any]],
    n_iter: int = 10,
    num_folds: int = 3,
    parallelism: int = 4,
    seed: int = SEED,
    label_col: str = "label",
) -> CrossValidator:
    """M9 — `RandomizedSearchCV(n_iter, cv=3)` (`Sol_2.ipynb:664-695`):
    sample n_iter param maps with a seeded RNG, then CV over the sample."""
    rng = random.Random(seed)
    maps = []
    for _ in range(n_iter):
        m = {}
        for p, choices in distributions.items():
            m[p] = rng.choice(choices)
        maps.append(m)
    return CrossValidator(
        estimator=estimator,
        estimatorParamMaps=maps,
        evaluator=f1_evaluator(label_col),
        numFolds=num_folds,
        parallelism=parallelism,
        seed=SEED,
    )
