"""Dataset profiling: per-column statistics in ONE aggregation job.

The training-data analogue of the validator's single-pass violation
counting (SURVEY.md §4.2): for any column subset, compute count /
nulls / distinct / min / max / numeric moments as one conditional-
aggregation scan with map-side partial aggregation — profile cost is
a single pass regardless of column count, at any scale.

``exact=False`` (default) uses ``approx_count_distinct`` (HLL++,
constant memory — the only choice at 100 TB); ``exact=True`` uses
exact distinct counts (expands to one shuffle per column internally,
use for small/verification runs — this is also what the DuckDB
oracle can reproduce).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def profile_stats(
    df: DataFrame,
    columns: list[str] | None = None,
    exact: bool = False,
) -> DataFrame:
    """One row per profiled column: n, n_null, n_distinct, min/max
    (as strings — heterogeneous types share one schema), and for
    numeric columns sum/mean as doubles.

    Single aggregation job; the long (column-per-row) shape comes
    from a driver-side unpivot of the one aggregated row, not from
    per-column scans.
    """
    cols = columns or df.columns
    dtypes = dict(df.dtypes)
    schema = {f.name: f.dataType for f in df.schema.fields}

    aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        nulls = F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
        aggs.append(nulls.alias(f"__null_{c}"))
        if exact:
            aggs.append(F.count_distinct(F.col(c)).alias(f"__dist_{c}"))
        else:
            aggs.append(F.approx_count_distinct(F.col(c)).alias(f"__dist_{c}"))
        aggs.append(F.min(F.col(c)).cast("string").alias(f"__min_{c}"))
        aggs.append(F.max(F.col(c)).cast("string").alias(f"__max_{c}"))
        if isinstance(schema[c], _NUMERIC):
            aggs.append(F.sum(F.col(c).cast("double")).alias(f"__sum_{c}"))
        else:
            aggs.append(F.lit(None).cast("double").alias(f"__sum_{c}"))

    row = df.agg(*aggs).collect()[0].asDict()
    n = row["__n"]
    out = []
    for c in cols:
        n_null = row[f"__null_{c}"] or 0
        s = row[f"__sum_{c}"]
        non_null = n - n_null
        out.append(
            (
                c,
                dtypes[c],
                n,
                n_null,
                int(row[f"__dist_{c}"] or 0),
                row[f"__min_{c}"],
                row[f"__max_{c}"],
                s,
                (s / non_null) if (s is not None and non_null > 0) else None,
            )
        )
    return df.sparkSession.createDataFrame(
        out,
        "column string, dtype string, n long, n_null long, n_distinct long, "
        "min_str string, max_str string, sum double, mean double",
    )


def approx_quantiles(
    df: DataFrame, columns: list[str], probabilities: list[float] | None = None,
    relative_error: float = 0.001,
) -> dict[str, list[float]]:
    """Greenwald-Khanna approximate quantiles (bounded-memory, one
    pass) for numeric columns. Thin wrapper kept for API symmetry."""
    probs = probabilities or [0.01, 0.25, 0.5, 0.75, 0.99]
    result = df.approxQuantile(columns, probs, relative_error)
    return dict(zip(columns, result))
