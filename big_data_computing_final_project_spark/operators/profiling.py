"""Reusable profiling API over arbitrary DataFrames (SURVEY.md §2.6).

This is the engine's user-facing equivalent of the reference's
`data_analysis.ipynb` workload: `describe`, `value_counts`, `null_counts`,
`corr_matrix`, `quantiles`, `skew_kurt` as functions any caller can apply to
any DataFrame. plans/profiling.py registers fixed-table instances of these
for the oracle gate; these generic versions are the API.

Every function is a single aggregation pass; nothing collects raw rows.
`exact=False` (default) uses sketch-based quantiles/distinct counts — the
100 TB mode; `exact=True` switches to exact forms for oracle parity
(SURVEY §4 custom work items 2-3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.stats import (
    dec_avg,
    dec_sum,
    kurtosis_g2,
    power_sums,
    skewness_g1,
)


def numeric_columns(df: DataFrame) -> list[str]:
    """P5 — type-based column selection (`df.select_dtypes(np.number)`,
    `data_analysis.ipynb` cell ab7a844f)."""
    return [f.name for f in df.schema.fields if isinstance(f.dataType, T.NumericType)]


def string_columns(df: DataFrame) -> list[str]:
    """P5 — `select_dtypes(include=['object'])`."""
    return [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]


def value_counts(df: DataFrame, column: str, normalize: bool = False) -> DataFrame:
    """A1 — `df[col].value_counts()` (desc by count, tiebreak on value)."""
    out = df.groupBy(column).agg(F.count(F.lit(1)).alias("count"))
    if normalize:
        total = df.agg(F.count(F.lit(1)).alias("_total"))
        out = out.join(F.broadcast(total)).withColumn(
            "proportion", F.col("count").cast("double") / F.col("_total")
        ).drop("_total")
    return out.orderBy(F.col("count").desc(), F.col(column))


def null_counts(df: DataFrame) -> DataFrame:
    """A3 — `df.isnull().sum()`: one row, one count per column."""
    return df.agg(
        *[F.count(F.when(F.col(c).isNull(), 1)).alias(c) for c in df.columns]
    )


def describe_strings(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """A2's object-column half — pandas ``describe(include='all')``'s
    count/unique/top/freq for string columns (reference
    `data_analysis.ipynb:241`: the 24-col describe output), long format:
    (column_name, n, n_unique, top, top_freq).

    Deterministic top-tie rule: highest count, then SMALLEST value
    (pandas' own tie order is hash-arbitrary, so a rule must be chosen;
    smallest-value is the one every SQL engine can reproduce with
    `ORDER BY cnt DESC, val LIMIT 1`).

    Scale shape: per column, ONE partial-aggregated groupBy to (value,
    count) — state bounded by distinct values, map-side combined — then a
    1-row aggregate picks count/unique/top/freq from the counted frame.
    ``min_by`` over a (-count, value) struct encodes the tie rule without
    a sort. k columns = k aggregation passes (inherent: each groups by a
    different key); no collect, no window, no all-row buffers.
    """
    cols = columns or string_columns(df)
    outs = []
    for c in cols:
        vc = (
            df.filter(F.col(c).isNotNull())
            .groupBy(F.col(c).alias("val"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        outs.append(
            vc.agg(
                F.sum("n").cast("bigint").alias("n_rows"),
                F.count(F.lit(1)).cast("bigint").alias("n_unique"),
                F.min_by(
                    "val", F.struct((-F.col("n")).alias("o1"), F.col("val").alias("o2"))
                ).alias("top"),
                F.max("n").cast("bigint").alias("top_freq"),
            ).select(
                F.lit(c).alias("column_name"), "n_rows", "n_unique", "top", "top_freq"
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("column_name")


def describe(df: DataFrame, columns: list[str] | None = None, exact: bool = False) -> DataFrame:
    """A2/A4/A6/A7 — pandas-describe superset in long format: count, mean,
    stddev (sample), min, max, quartiles, distinct count per numeric column.

    One aggregation pass for the moments + one for quantiles. At scale
    (exact=False) quantiles are `percentile_approx` and distinct counts are
    HLL sketches; exact=True matches pandas/DuckDB bit-for-bit.
    """
    cols = columns or numeric_columns(df)
    aggs = []
    distinct_aggs = []
    for c in cols:
        col = F.col(c)
        n, s1, s2 = power_sums(col, 4, upto=2)
        pct_fn = "percentile" if exact else "percentile_approx"
        aggs += [
            n.alias(f"{c}__n"),
            (s1 / n).alias(f"{c}__mean"),
            F.sqrt((s2 - s1 * s1 / n) / (n - F.lit(1.0))).alias(f"{c}__std"),
            F.min(col).cast("double").alias(f"{c}__min"),
            F.max(col).cast("double").alias(f"{c}__max"),
            F.expr(f"{pct_fn}({c}, array(0.25, 0.5, 0.75))").alias(f"{c}__q"),
        ]
        if exact:
            # exact distinct counts go in a SEPARATE aggregate: multiple
            # COUNT(DISTINCT col) trigger the Expand rewrite (input ×
            # n_cols), and dragging the exact-percentile buffers through
            # that expansion roughly doubles the whole job (measured 8.2 s
            # vs 3.2+1.5 s split at sf0.1). Two 1-row aggs + cross join
            # scan the input twice but each pass is the cheap shape.
            #
            # NOTE exact mode exists for oracle parity; the at-scale
            # default is the sketch mode above. For exact quantiles at
            # scale, use operators/quantiles.exact_quantiles (the
            # percentile()-identical distributed form: distinct values
            # collapse map-side and the bucketed prefix scan ranks them,
            # so no buffer ever holds every row).
            distinct_aggs.append(F.countDistinct(col).alias(f"{c}__distinct"))
        else:
            aggs.append(F.approx_count_distinct(col).alias(f"{c}__distinct"))
    one = df.agg(*aggs)
    if distinct_aggs:
        one = one.crossJoin(df.agg(*distinct_aggs))
    rows = []
    for c in cols:
        rows.append(
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"{c}__n").cast("long").alias("count"),
                F.col(f"{c}__mean").alias("mean"),
                F.col(f"{c}__std").alias("stddev"),
                F.col(f"{c}__min").alias("min"),
                F.col(f"{c}__q")[0].cast("double").alias("p25"),
                F.col(f"{c}__q")[1].cast("double").alias("p50"),
                F.col(f"{c}__q")[2].cast("double").alias("p75"),
                F.col(f"{c}__max").alias("max"),
                F.col(f"{c}__distinct").cast("long").alias("n_distinct"),
            )
        )
    return one.select(F.explode(F.array(*rows)).alias("s")).select("s.*").orderBy("column_name")


def skew_kurt(df: DataFrame, columns: list[str], base_scale: int = 4) -> DataFrame:
    """A5 — bias-corrected G1/G2 (pandas semantics) per column, long format."""
    frames = []
    for c in columns:
        n, s1, s2, s3, s4 = power_sums(F.col(c), base_scale)
        frames.append(
            df.agg(
                skewness_g1(n, s1, s2, s3).alias("skew_g1"),
                kurtosis_g2(n, s1, s2, s3, s4).alias("kurt_g2"),
            ).select(F.lit(c).alias("column_name"), "skew_g1", "kurt_g2")
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("column_name")


def corr_matrix(
    df: DataFrame, columns: list[str] | None = None, wide: bool = True
) -> DataFrame:
    """A8 — full pairwise Pearson matrix in long format, ONE pass: all
    cross-sums land in a single aggregate row (pandas `.corr()` parity).

    ``wide`` controls the square/cross-sum decimal path. The default True
    (per-row BigDecimal) is safe for any magnitude; pass wide=False ONLY
    when every |a*b| * 10^8 <= ~1e14 (e.g. q63's quantity/discount/tax,
    all <= 50) — the fast long-limb path is then digit-identical and
    ~3x faster on the aggregate (dec_sum docstring has the contract)."""
    cols = columns or numeric_columns(df)
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    aggs = [F.count(F.lit(1)).cast("double").alias("__n")]
    for c in cols:
        aggs.append(dec_sum(F.col(c)).alias(f"{c}__s"))
        aggs.append(dec_sum(F.col(c) * F.col(c), 8, wide=wide).alias(f"{c}__ss"))
    for a, b in pairs:
        aggs.append(dec_sum(F.col(a) * F.col(b), 8, wide=wide).alias(f"{a}__{b}__sxy"))
    one = df.agg(*aggs)
    rows = []
    for a, b in pairs:
        n = F.col("__n")
        sx, sy = F.col(f"{a}__s"), F.col(f"{b}__s")
        sxx, syy = F.col(f"{a}__ss"), F.col(f"{b}__ss")
        sxy = F.col(f"{a}__{b}__sxy")
        r = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
        rows.append(F.struct(F.lit(a).alias("col_x"), F.lit(b).alias("col_y"), r.alias("r")))
    return one.select(F.explode(F.array(*rows)).alias("s")).select("s.*").orderBy("col_x", "col_y")


def crosstab(df: DataFrame, row_col: str, col_col: str, values: list[str]) -> DataFrame:
    """A9 — contingency table with pinned pivot values (an implicit pivot
    needs an extra distinct pass at scale)."""
    return (
        df.groupBy(row_col).pivot(col_col, values).count().na.fill(0, values).orderBy(row_col)
    )


def bootstrap_sample(df: DataFrame, seed: int = 42, fraction: float = 1.0) -> DataFrame:
    """J4 — bootstrap (with-replacement) sample, the RF resampling primitive
    (checkpoint cell ff9ae109)."""
    return df.sample(withReplacement=True, fraction=fraction, seed=seed)
