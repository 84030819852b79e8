"""Grouped-map operators: applyInPandas with a native-expression twin.

Demonstrates the engine's UDF policy (SURVEY.md §2.10): anything
expressible as native expressions runs JVM-side (here: per-customer OLS
trend slope via its closed form with exact decimal sums — DuckDB-oracle
checkable); the Arrow-batched ``applyInPandas`` path exists for logic that
genuinely needs Python (scipy/sklearn-style per-group fitting), and the
two are cross-validated in tests.
"""

from __future__ import annotations

from collections.abc import Iterator  # noqa: F401

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.expressions import dsum

X_EPOCH = "1970-01-01"


def _day_num(date_col: Column) -> Column:
    return F.datediff(date_col.cast("date"), F.lit(X_EPOCH).cast("date"))


def trend_slope_native(df: DataFrame, key: str, date_col: str, y_col: str) -> DataFrame:
    """Per-group OLS slope of y over time, closed form:
    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²).

    All sums accumulate exactly (long / DECIMAL / ``dsum``; scale 2 keeps
    the unscaled Σxy under 2^53 so its decimal->double cast is exact in
    any engine) before one deterministic
    double evaluation — bit-reproducible across partitionings and
    replayable by the DuckDB oracle. Degenerate groups (single visit or
    zero x-variance) yield NULL."""
    x = _day_num(F.col(date_col))
    y = F.col(y_col)
    g = df.groupBy(key).agg(
        F.count("*").alias("n"),
        F.sum(x.cast("long")).alias("sx"),
        dsum(y_col).alias("sy"),
        F.sum((x * y).cast("decimal(28,2)")).alias("sxy"),
        F.sum((x * x).cast("long")).alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    denom = n * sxx - sx * sx
    slope = F.when(denom != 0, (n * sxy - sx * sy) / denom)
    return g.select(key, F.col("n").alias("visit_count"), slope.alias("cost_trend_slope"))


_SLOPE_SCHEMA = "customer_id long, visit_count long, cost_trend_slope double"


def _fit_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """numpy least-squares per group — the shape a scipy/sklearn per-group
    fit takes. One Arrow batch per group, vectorized inside."""
    import numpy as np

    x = pdf["__x"].to_numpy(dtype="float64")
    y = pdf["__y"].to_numpy(dtype="float64")
    n = len(pdf)
    if n < 2 or np.ptp(x) == 0:
        slope = None
    else:
        xm, ym = x.mean(), y.mean()
        slope = float(((x - xm) * (y - ym)).sum() / ((x - xm) ** 2).sum())
    return pd.DataFrame(
        {"customer_id": [int(pdf["__k"].iloc[0])], "visit_count": [n],
         "cost_trend_slope": [slope]}
    )


def trend_slope_pandas(df: DataFrame, key: str, date_col: str, y_col: str) -> DataFrame:
    """Same statistic via applyInPandas (grouped-map Arrow UDF)."""
    prepped = df.select(
        F.col(key).cast("long").alias("__k"),
        _day_num(F.col(date_col)).alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
    )
    return prepped.groupBy("__k").applyInPandas(_fit_group, _SLOPE_SCHEMA)
