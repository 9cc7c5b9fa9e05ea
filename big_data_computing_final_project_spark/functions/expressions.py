"""Derived-column expression library — the reference's projection language
re-expressed as reusable pyspark Column builders (SURVEY.md §2.3, E1-E13).

The reference computes these over its house-purchase table
(`house_predict.py:146-178`, `Sol_2.ipynb` cell 98d29a2c). The engine keeps
the *shape* of each expression (safe ratios with +1 denominators, weighted
scores, interval bucketing, numeric guards) as generic builders; the query
registry instantiates them over the driver's star schema.

Everything here is a pure ``Column`` expression — JVM-side, codegen'd,
no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def safe_ratio(num: Column, den: Column, eps: float = 1.0) -> Column:
    """`num / (den + eps)` — the reference's divide-by-zero guard
    (E1/E2/E3/E6: `house_predict.py:150-168`)."""
    return num / (den + F.lit(eps))


def affordability_ratio(salary: Column, price: Column) -> Column:
    """E1 — `customer_salary / (price + 1)` (`house_predict.py:150-151`)."""
    return safe_ratio(salary, price)


def payment_capacity(income: Column, expenses: Column) -> Column:
    """E5 — `customer_salary - monthly_expenses` (`house_predict.py:163-164`)."""
    return income - expenses


def weighted_score(cols_weights: list[tuple[Column, float]]) -> Column:
    """E7/E8 — linear risk/quality scores, e.g. the Sol_2 weighted quality
    score `0.3a+0.3b+0.2c+...` (`Sol_2.ipynb:373-380`)."""
    acc = F.lit(0.0)
    for c, w in cols_weights:
        acc = acc + c * F.lit(w)
    return acc


def interval_bucket(c: Column, edges: list[float], labels: list[str]) -> Column:
    """E11 — labeled interval bucketing a la `pd.cut(age, bins, labels)`
    (`Sol_2.ipynb:360-362`): (edges[i], edges[i+1]] -> labels[i], else NULL.

    Implemented as a chained CASE WHEN so it stays inside codegen; for
    unlabeled numeric codes use :class:`pyspark.ml.feature.Bucketizer`.
    """
    if len(labels) != len(edges) - 1:
        raise ValueError("need len(labels) == len(edges) - 1")
    expr = F.lit(None).cast("string")
    # build from last to first so the first matching WHEN wins
    for i in range(len(labels) - 1, -1, -1):
        cond = (c > F.lit(edges[i])) & (c <= F.lit(edges[i + 1]))
        expr = F.when(cond, F.lit(labels[i])).otherwise(expr)
    return expr


def clip(c: Column, lo: float, hi: float) -> Column:
    """E12 — `np.clip(z, lo, hi)` numeric guard (checkpoint `_sigmoid`)."""
    return F.greatest(F.least(c, F.lit(hi)), F.lit(lo))
