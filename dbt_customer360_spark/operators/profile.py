"""Dataset profiling, exact quantiles, and statistical outlier ops.

The data-quality layer of an ingest pipeline: before (and after) a
10^10-event replay lands in the lake you want per-column null/distinct
/min/max profiles (what dbt encodes as schema tests — not_null,
unique, accepted_values — the reference declares these in
models/*.yml), exact distribution quantiles for partition-sizing and
SLA checks, and cheap per-group outlier flags for anomaly triage.

Everything here is a single-pass DataFrame plan with a bit-exact SQL
twin:

- :func:`profile_columns` — ONE full-table aggregate (all columns'
  stats as parallel agg expressions, map-side combined) reshaped to
  long form driver-free via ``explode`` of a struct array over the
  single aggregated row. count_distinct makes it one shuffle of
  partial-agg rows; the table itself is never re-shuffled per column.
- :func:`exact_quantiles` — percentile_disc(q) per group via ONE
  row_number window (one shuffle on the group key), then a cheap
  rank-membership filter: value at rank ``ceil(q*n)`` — the SQL
  standard PERCENTILE_DISC definition, verified to match DuckDB's
  native ``quantile_disc``. Exact, so it only suits grouped data
  whose per-group sort fits a task (profiling cuts, not the raw
  corpus).
- :func:`zscore_outliers` — per-group population z-score on an
  INTEGER column: integer sums are exact and order-free, the
  mean/variance are then a fixed sequence of exactly-rounded double
  ops (+ sqrt, which IEEE-754 rounds correctly), so the z-scores are
  bit-identical across engines — no quantize-then-pray. Two shuffles
  (group agg + broadcast-back join of the tiny stats dim).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Long-form per-column profile: (column, n_notnull, n_null,
    n_distinct, min_s, max_s).

    min/max are cast to string AFTER aggregating (``cast(min(c) as
    string)``, never ``min(cast(c as string))`` — lexical order would
    put "9" above "10"). Callers should pass integer / string /
    timestamp columns; float columns' string reprs are not
    cross-engine stable and belong in :func:`zscore_outliers`-style
    numeric stats instead.
    """
    aggs: list[Column] = []
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"{c}__n"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nn"),
            F.count_distinct(F.col(c)).alias(f"{c}__nd"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"{c}__n").alias("n_notnull"),
                F.col(f"{c}__nn").alias("n_null"),
                F.col(f"{c}__nd").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_s"),
                F.col(f"{c}__max").alias("max_s"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(rows).alias("r")).select("r.*")


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    by: list[str],
    qs: list[float],
) -> DataFrame:
    """PERCENTILE_DISC(q) WITHIN GROUP per key: the value at rank
    ``ceil(q * n)`` of the group's ascending sort — smallest value
    whose cumulative distribution reaches q (SQL standard; DuckDB's
    ``quantile_disc`` implements the same rule, which the oracle
    leans on). One window shuffle; each rank matches exactly one row,
    so the rank-membership filter emits |qs| rows per group. NULL
    values are excluded, as in the SQL aggregate.
    """
    w = Window.partitionBy(*by).orderBy(F.col(value_col).asc())
    ranked = (
        df.select(*by, value_col)
        .filter(F.col(value_col).isNotNull())
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy(*by)))
    )
    qarr = F.array(*[F.lit(float(q)) for q in qs])
    hits = F.filter(qarr, lambda q: F.ceil(q * F.col("n")) == F.col("rn"))
    return (
        ranked.withColumn("qhits", hits)
        .filter(F.size("qhits") > 0)
        .select(*by, F.explode("qhits").alias("q"), F.col(value_col).alias("value"))
    )


def zscore_outliers(
    df: DataFrame,
    value_col: str,
    by: list[str],
    threshold: float = 3.0,
) -> DataFrame:
    """Rows whose per-group population z-score exceeds ``threshold``
    in absolute value, with the (6-dp quantized) z attached.

    ``value_col`` MUST be integral: sum(x) and sum(x*x) are then exact
    bigints (order-free across any partitioning), and the derived
    ``mean = double(s)/n``, ``var = max(0, (double(s2) - double(s)^2/n)/n)``,
    ``z = (x - mean)/sqrt(var)`` are a fixed sequence of
    exactly-rounded IEEE double ops — bit-identical on any engine that
    evaluates the same expression tree (the oracle repeats it
    verbatim; the max(0,·) guard also keeps DuckDB's sqrt from
    raising on a cancellation-negative variance). Groups with zero
    variance are dropped (every member is the mean — no outliers, and
    z would be ±inf/NaN). The stats side is one tiny row per group —
    Spark broadcast-joins it back automatically (AQE size estimate),
    so the data side is never re-shuffled.
    """
    v = F.col(value_col)
    stats = (
        df.filter(v.isNotNull())
        .groupBy(*by)
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            # widen BEFORE multiplying: v*v on an IntegerType column
            # silently wraps int32 in non-ANSI Spark for |v| >= 46341
            # (e.g. n_chars of a ~46 KB doc) while the DuckDB twin
            # raises — bigint keeps both engines exact (r5 ADVICE #1)
            F.sum(v.cast("long")).alias("__s"),
            F.sum(v.cast("long") * v.cast("long")).alias("__s2"),
        )
        .withColumn("__mean", F.col("__s").cast("double") / F.col("__cnt"))
        .withColumn(
            "__var",
            F.greatest(
                (
                    F.col("__s2").cast("double")
                    - F.col("__s").cast("double")
                    * F.col("__s").cast("double")
                    / F.col("__cnt")
                )
                / F.col("__cnt"),
                F.lit(0.0),
            ),
        )
        .filter(F.col("__var") > 0)
        .withColumn("__std", F.sqrt(F.col("__var")))
        .select(*by, "__mean", "__std")
    )
    z = (v.cast("double") - F.col("__mean")) / F.col("__std")
    zq = F.floor(z * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return (
        df.filter(v.isNotNull())
        .join(F.broadcast(stats), on=list(by), how="inner")
        .filter(F.abs(z) > F.lit(float(threshold)))
        .select(*by, v.alias(value_col), zq.alias("zscore"))
    )
