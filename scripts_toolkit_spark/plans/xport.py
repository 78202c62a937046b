"""SAS-XPORT conversion pipeline (SURVEY.md §3.2), Spark-first.

Reference flow (converter.py:215-280): decode XPORT → extract quarter →
normalize → per-column type profile → iterrows melt → JSON. Here:

    decode (io.sources.read_xport: mapInPandas, then materialize)
      → extract_quarter (first-row constant)
      → normalize_wide
      → profile_types (one grouped aggregate — the data-dependent "plan" phase)
      → melt_to_eav (vectorized unpivot per type family)
      → write_eav (parquet partitioned by quarter)

Decoding happens once, at `read_xport`: it returns the decoded rows behind
a materialization boundary, so the quarter lookup, the profile and every
unpivot of the write scan those rows instead of re-running the Python
decode. The two-phase shape survives by design: the profile is an action
whose collected result parameterizes the melt plan (SURVEY §4.2 custom #3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from scripts_toolkit_spark.operators.profile import profile_types
from scripts_toolkit_spark.operators.reshape import (
    extract_quarter,
    melt_to_eav,
    normalize_wide,
)


def wide_to_eav(df_wide: DataFrame, date_col: str = "DATE", entity_col: str = "entity") -> DataFrame:
    """Full wide-matrix → typed-EAV conversion (profile + melt)."""
    quarter = extract_quarter(df_wide, date_col)
    df_n = normalize_wide(df_wide, entity_col=entity_col, date_col=date_col.lower())
    type_map = profile_types(df_n, exclude=("rssd",))
    return melt_to_eav(df_n, type_map, quarter)
