"""Column type profiler (SURVEY.md §2.4 A1–A3).

Re-expresses the reference's per-column heuristics
(converter.py:23-94: bool_detector / int_detector / type_detector) as ONE
grouped aggregation over all columns, instead of the reference's
O(columns) separate filter+dedup passes (converter.py:271).

Reference semantics preserved exactly:
- dtype object ⇒ 'str' (converter.py:87-88) — here: Spark string columns.
- bool ⇔ distinct non-null set == {0.0, 1.0} (converter.py:39-51);
  equivalently count_distinct == 2 ∧ min == 0 ∧ max == 1. Documented
  false-positive/negative caveats (all-zeros column is NOT bool; a {0,1}
  genuine-int column IS bool) are inherited deliberately.
- int ⇔ sum(distinct non-null) % 1 == 0 (converter.py:54-73), including the
  empty-column edge (sum of nothing = 0 ⇒ int) and the documented
  false-positive (fractional values summing to a whole).
- NaN counts as null (pandas pd.isnull) — floating columns are
  NaN-normalized first.

Shape: the numeric columns are unpivoted (as double) into
(column_name, value) rows and profiled by one
`groupBy(column_name).agg(count_distinct, min, max, sum_distinct)`. Both
distinct aggregates share one distinct key, `value`, so the plan is a
plain two-phase grouped aggregate with no Expand, one row out per column.
A 5,000-column bank matrix is still one job; its unpivot is chunked like
the melt's (`operators.reshape.unpivot_chunked`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, DoubleType, FloatType, NumericType, StringType

from scripts_toolkit_spark.operators.reshape import unpivot_chunked


def profile_types(df: DataFrame, exclude: tuple[str, ...] = ()) -> dict[str, str]:
    """Return {column → 'bool'|'int'|'float'|'str'} per reference semantics.

    Non-numeric columns are typed from the schema alone; the numeric ones
    take one grouped aggregate job over their (column_name, value) unpivot
    (module doc). A column with no rows to group — an empty frame — has no
    distinct values and sums to nothing, so it reads as 'int', as in the
    reference. `exclude` columns (ids, dates) are skipped.
    """
    values: dict[str, Column] = {}
    result: dict[str, str] = {}
    for field in df.schema.fields:
        c = field.name
        if c in exclude:
            continue
        if isinstance(field.dataType, StringType):
            result[c] = "str"
        elif isinstance(field.dataType, BooleanType):
            result[c] = "bool"
        elif isinstance(field.dataType, NumericType):
            v = F.col(c)
            if isinstance(field.dataType, (FloatType, DoubleType)):
                # NaN → null to mirror pd.isnull (converter.py:39, 67)
                v = F.when(F.isnan(v), F.lit(None)).otherwise(v)
            values[c] = v.cast("double")
        else:
            # timestamps/arrays/etc. have no reference analog; treat as str
            result[c] = "str"

    if not values:
        return result

    v = F.col("value")
    stats = {
        r[0]: tuple(r[1:])
        for r in unpivot_chunked(df, [], values, "column_name")
        .groupBy("column_name")
        .agg(F.count_distinct(v), F.min(v), F.max(v), F.sum_distinct(v))
        .collect()
    }
    for c in values:
        nd, mn, mx, sd = stats.get(c, (0, None, None, None))
        if nd == 2 and mn == 0 and mx == 1:
            result[c] = "bool"
        elif (sd or 0) % 1 == 0:
            result[c] = "int"
        else:
            result[c] = "float"
    return result


def column_stats(df: DataFrame, cols: list[str], sum_decimal: str = "decimal(18,2)") -> DataFrame:
    """One-pass per-column summary statistics (the data-profiling companion
    to `profile_types`): rows of (column_name, n, n_null, n_distinct, vmin,
    vmax, vsum). Implemented as unpivot → single grouped aggregate, so the
    input is scanned ONCE regardless of column count — the shape that holds
    for a 5,000-column bank matrix.

    `vsum` accumulates in decimal (exact) and is returned as double."""
    melted = df.unpivot(
        [], [F.col(c).cast("double").alias(c) for c in cols], "column_name", "value"
    )
    return melted.groupBy("column_name").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").isNull().cast("bigint")).alias("n_null"),
        F.count_distinct("value").alias("n_distinct"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.sum(F.col("value").cast(sum_decimal)).cast("double").alias("vsum"),
    )
