"""Reshape operators: melt wide→long typed EAV and pivot back
(SURVEY.md §2.5 R1–R4) — the toolkit's core data-model operation.

The reference implements the melt as an interpreted `iterrows × columns`
double loop (converter.py:149-176), its dominant cost ("may take a minute
or two", converter.py:330). Here it is one vectorized `unpivot` per type
family plus a broadcast join against the (tiny) type plan — fully
distributed, no Python in the data plane.

EAV output schema (FIXTURES.md §F3, the repo's canonical "time series"
interchange format, converter.py:187-189):
    rssd BIGINT, mdrm STRING, quarter INT, data_type STRING,
    bool_data BOOLEAN, int_data BIGINT, float_data DOUBLE, str_data STRING

Null semantics (converter.py:153-176):
- bool columns: ALWAYS emit; truthiness value ∈ {1,'1','true','True','TRUE'}
  → True, anything else (including null) → False. (The reference's shipped
  code builds the bool record but never appends it — converter.py:155-157
  lack the `output_dict_list.append` the other branches have; we implement
  the documented intent, treating that as a reference defect alongside
  app.py's stray `break`.)
- int/float/str columns: null observations are SKIPPED, not stored.
- int(value) truncates toward zero — Spark's double→bigint cast matches.

At 100 TB: the EAV table is written partitioned by `quarter`; per-quarter
wide views are reconstructed with `pivot_from_eav` (explicit column list —
no value-discovery job).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EAV_FIELDS = (
    "rssd",
    "mdrm",
    "quarter",
    "data_type",
    "bool_data",
    "int_data",
    "float_data",
    "str_data",
)

# Max columns per single unpivot (Expand) node: past ~a few hundred
# projections whole-stage codegen splits/falls back and per-row cost ~4×.
# 64 measured best of {64, 128, 200} at 600 columns (scale_probe melt).
_UNPIVOT_CHUNK = 64


def unpivot_chunked(
    df: DataFrame, ids: list[Column], values: dict[str, Column], variable: str
) -> DataFrame:
    """Unpivot `values` (output name → expression, all of one type) into
    (*ids, `variable`, value) rows: one `unpivot` per ≤ `_UNPIVOT_CHUNK`
    columns, unioned. The union is row-identical to a single unpivot; each
    chunk's scan prunes to its own columns, so input volume is unchanged."""
    names = list(values)
    chunks: list[DataFrame] = []
    for lo in range(0, len(names), _UNPIVOT_CHUNK):
        cs = names[lo : lo + _UNPIVOT_CHUNK]
        part = df.select(*ids, *[values[c].alias(c) for c in cs])
        chunks.append(part.unpivot(part.columns[: len(ids)], cs, variable, "value"))
    return functools.reduce(DataFrame.unionByName, chunks)


def normalize_wide(df: DataFrame, entity_col: str = "entity", date_col: str = "date") -> DataFrame:
    """normalize_df (converter.py:185-211): lowercase columns, drop the
    constant date column, rename entity→rssd. (No index concept in Spark —
    rssd stays a column.)"""
    out = df.toDF(*[c.lower() for c in df.columns])
    if date_col in out.columns:
        out = out.drop(date_col)
    if entity_col in out.columns:
        out = out.withColumnsRenamed({entity_col: "rssd"})
    return out


def extract_quarter(df: DataFrame, date_col: str = "DATE") -> int:
    """Quarter = first value of the constant DATE column (converter.py:267).
    The constancy assumption is the reference's (converter.py:263-266);
    `first` avoids a full scan."""
    col = next(c for c in df.columns if c.lower() == date_col.lower())
    return int(df.select(F.col(col)).first()[0])


def melt_to_eav(
    df: DataFrame,
    type_map: dict[str, str],
    quarter: int,
    id_col: str = "rssd",
) -> DataFrame:
    """Wide entity×attribute matrix → long typed EAV (converter.py:130-182).

    One `unpivot` per type family (numeric / string), then typed routing —
    each family's unpivot keeps its native value type so no information is
    laundered through strings. The type plan is driver-side (it came from
    `profile_types`, a collected one-row aggregate), so routing is plain
    column pruning — no join needed at all.

    VERY wide families additionally CHUNK their unpivot into unions of
    ≤ `_UNPIVOT_CHUNK`-column unpivots (r10, measured by
    `tools/scale_probe.py melt`): a single 600-column Expand blows
    whole-stage codegen's generated-method budget and falls off the
    compiled path (~4× per-row cost — 61→238 ns); 64-column chunks stay
    compiled and the union of chunk unpivots is row-identical (measured
    12.8 s → 3.0 s on 55M emitted rows). Each chunk's input scan prunes
    to its own columns, so total input volume is unchanged.
    """
    bool_cols = [c for c, t in type_map.items() if t == "bool" and c in df.columns]
    int_cols = [c for c, t in type_map.items() if t == "int" and c in df.columns]
    float_cols = [c for c, t in type_map.items() if t == "float" and c in df.columns]
    str_cols = [c for c, t in type_map.items() if t == "str" and c in df.columns]

    q = F.lit(quarter).cast("int")
    rssd = F.col(id_col).cast("bigint").alias("rssd")
    parts: list[DataFrame] = []

    def _unpivot(cols: list[str], to_type: str) -> DataFrame:
        return unpivot_chunked(df, [rssd], {c: F.col(c).cast(to_type) for c in cols}, "mdrm")

    if bool_cols:
        # truthy over the string image covers 1 / '1' / 'true' variants
        # (converter.py:154); null → False; ALWAYS emitted.
        v = F.col("value")
        truthy = F.lower(v).isin("1", "true", "1.0")
        parts.append(
            _unpivot(bool_cols, "string").select(
                "rssd",
                "mdrm",
                q.alias("quarter"),
                F.lit("bool").alias("data_type"),
                F.coalesce(truthy, F.lit(False)).alias("bool_data"),
                F.lit(None).cast("bigint").alias("int_data"),
                F.lit(None).cast("double").alias("float_data"),
                F.lit(None).cast("string").alias("str_data"),
            )
        )
    if int_cols:
        parts.append(
            _unpivot(int_cols, "double")
            .where(F.col("value").isNotNull() & ~F.isnan("value"))
            .select(
                "rssd",
                "mdrm",
                q.alias("quarter"),
                F.lit("int").alias("data_type"),
                F.lit(None).cast("boolean").alias("bool_data"),
                F.col("value").cast("bigint").alias("int_data"),
                F.lit(None).cast("double").alias("float_data"),
                F.lit(None).cast("string").alias("str_data"),
            )
        )
    if float_cols:
        parts.append(
            _unpivot(float_cols, "double")
            .where(F.col("value").isNotNull() & ~F.isnan("value"))
            .select(
                "rssd",
                "mdrm",
                q.alias("quarter"),
                F.lit("float").alias("data_type"),
                F.lit(None).cast("boolean").alias("bool_data"),
                F.lit(None).cast("bigint").alias("int_data"),
                F.col("value").alias("float_data"),
                F.lit(None).cast("string").alias("str_data"),
            )
        )
    if str_cols:
        parts.append(
            _unpivot(str_cols, "string")
            .where(F.col("value").isNotNull())
            .select(
                "rssd",
                "mdrm",
                q.alias("quarter"),
                F.lit("str").alias("data_type"),
                F.lit(None).cast("boolean").alias("bool_data"),
                F.lit(None).cast("bigint").alias("int_data"),
                F.lit(None).cast("double").alias("float_data"),
                F.col("value").alias("str_data"),
            )
        )

    if not parts:
        raise ValueError("type_map selects no columns present in df")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def pivot_from_eav(
    facts: DataFrame,
    mdrm_values: list[str],
    value_col: str = "float_data",
    id_cols: tuple[str, ...] = ("rssd", "quarter"),
) -> DataFrame:
    """Long EAV → wide analyst view (R4, the reference's stated join/present
    intent, cdr_taxonomy_processor.py:16-17).

    `mdrm_values` is explicit: pivot with a known column list skips Spark's
    value-discovery job AND keeps the output schema stable — both matter on
    a 100 TB fact table.
    """
    return (
        facts.groupBy(*id_cols)
        .pivot("mdrm", mdrm_values)
        .agg(F.max(value_col))
    )


def write_eav(facts: DataFrame, path: str) -> None:
    """Canonical persistence: parquet partitioned by quarter — partition
    pruning makes per-quarter reads O(quarter), not O(history)."""
    facts.write.mode("overwrite").partitionBy("quarter").parquet(path)
