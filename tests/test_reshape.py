"""Profiler + melt/pivot semantics vs the reference's documented behavior
(converter.py:23-94 detectors, :130-182 melt null rules)."""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import functions as F

from scripts_toolkit_spark.operators import reshape as R

from scripts_toolkit_spark.operators.profile import profile_types
from scripts_toolkit_spark.operators.reshape import melt_to_eav, pivot_from_eav
from scripts_toolkit_spark.plans.xport import wide_to_eav


def _wide(spark):
    rows = [
        # entity, DATE,      b,    zeros, two_ints, ints, floats, s
        (1, 20220630.0, 0.0, 0.0, 3.0, 10.0, 1.5, "a"),
        (2, 20220630.0, 1.0, 0.0, 5.0, None, 2.25, None),
        (3, 20220630.0, None, 0.0, 3.0, 7.0, None, "c"),
        (4, 20220630.0, 1.0, 0.0, 5.0, 7.0, float("nan"), "d"),
    ]
    return spark.createDataFrame(
        rows,
        "entity long, DATE double, b double, zeros double, two_ints double, "
        "ints double, floats double, s string",
    )


def test_profiler_reference_edge_cases(spark):
    tm = profile_types(_wide(spark), exclude=("entity", "DATE"))
    assert tm["b"] == "bool"  # {0,1} exactly
    assert tm["zeros"] == "int"  # all-zeros: NOT bool (len(set)==1), sum 0 → int
    assert tm["two_ints"] == "int"  # {3,5}: two values but != {0,1} → not bool
    assert tm["ints"] == "int"  # whole floats, sum distinct 17 → int
    assert tm["floats"] == "float"  # 1.5+2.25=3.75 → float; NaN ignored
    assert tm["s"] == "str"


def test_melt_null_semantics(spark):
    eav = wide_to_eav(_wide(spark))
    rows = {(r["rssd"], r["mdrm"]): r for r in eav.collect()}

    # bool: ALWAYS emitted; null → False
    assert rows[(1, "b")]["bool_data"] is False
    assert rows[(2, "b")]["bool_data"] is True
    assert rows[(3, "b")]["bool_data"] is False  # null bool still emitted
    assert rows[(2, "b")]["data_type"] == "bool"

    # int: nulls skipped; cast truncates
    assert (2, "ints") not in rows
    assert rows[(1, "ints")]["int_data"] == 10

    # float: nulls AND NaN skipped
    assert (3, "floats") not in rows
    assert (4, "floats") not in rows  # NaN treated as null (pd.isnull)
    assert rows[(2, "floats")]["float_data"] == 2.25

    # str: nulls skipped
    assert (2, "s") not in rows
    assert rows[(3, "s")]["str_data"] == "c"

    # quarter extracted from constant DATE column
    assert rows[(1, "b")]["quarter"] == 20220630

    # exactly one typed column non-null per row
    for r in rows.values():
        non_null = sum(
            r[c] is not None for c in ("bool_data", "int_data", "float_data", "str_data")
        )
        assert non_null == 1, r


def test_pivot_round_trip(spark):
    eav = wide_to_eav(_wide(spark))
    wide = pivot_from_eav(
        eav.where(F.col("data_type") == "float"), ["floats"], "float_data"
    ).collect()
    by_id = {r["rssd"]: r["floats"] for r in wide}
    assert by_id[1] == 1.5 and by_id[2] == 2.25


def _reference_types(pdf: pd.DataFrame) -> dict[str, str]:
    """In-test transcription of the reference detectors (converter.py:23-94):
    dtype object → str; a distinct non-null set equal to {0, 1} → bool; a
    whole sum of the distinct non-null values → int; anything else float."""
    out = {}
    for c in pdf.columns:
        s = pdf[c]
        if s.dtype == object:
            out[c] = "str"
            continue
        distinct = set(s.dropna().unique())
        if distinct == {0, 1}:
            out[c] = "bool"
        elif sum(distinct) % 1 == 0:
            out[c] = "int"
        else:
            out[c] = "float"
    return out


_NAN = float("nan")
# name → (Spark type, values); pandas gets the same values with the dtype
# the reference's XPORT decode would hold them in
_EDGE_COLUMNS = {
    "all_null": ("double", [None] * 6),
    "with_nan": ("double", [1.5, _NAN, 2.25, None, 1.5, _NAN]),
    "nan_ints": ("double", [_NAN, 3.0, 4.0, 3.0, None, _NAN]),
    "zeros": ("double", [0.0] * 6),
    "bool_nulls": ("double", [0.0, 1.0, None, 1.0, _NAN, 0.0]),
    "three_seven": ("double", [3.0, 7.0, 3.0, None, 7.0, 3.0]),
    "frac_whole": ("double", [0.25, 0.75, 0.25, None, 0.75, 0.25]),  # sums to 1 → int
    "f32_nan": ("float", [0.5, _NAN, 1.25, 0.5, None, 2.0]),
    "longs": ("bigint", [5, 9, 5, 12, 9, 5]),
    "long_flags": ("bigint", [0, 1, 1, 0, 1, 0]),
    "long_nulls": ("bigint", [4, None, 8, 4, None, 1]),
    "s": ("string", ["a", None, "c", "a", "b", None]),
}
_PANDAS_DTYPE = {"double": "float64", "float": "float32", "string": object}


def test_profile_types_matches_reference_heuristics(spark):
    """`profile_types` equals the reference detectors on every edge case:
    all-null, NaN, all zeros, {0,1} with nulls, {3,7}, fractional values
    summing to a whole, long columns, an empty frame, and 70 columns so
    the grouped pass's unpivot crosses a chunk boundary."""
    names = list(_EDGE_COLUMNS)
    n = len(next(iter(_EDGE_COLUMNS.values()))[1])
    df = spark.createDataFrame(
        [tuple(_EDGE_COLUMNS[c][1][i] for c in names) for i in range(n)],
        ", ".join(f"{c} {t}" for c, (t, _v) in _EDGE_COLUMNS.items()),
    )
    pdf = pd.DataFrame(
        {
            c: pd.Series(v, dtype=_PANDAS_DTYPE.get(t, "float64" if None in v else "int64"))
            for c, (t, v) in _EDGE_COLUMNS.items()
        }
    )
    got = profile_types(df)
    assert got == _reference_types(pdf)
    assert got["frac_whole"] == "int" and got["bool_nulls"] == "bool"
    assert got["all_null"] == "int" and got["zeros"] == "int"
    assert got["with_nan"] == "float" and got["long_flags"] == "bool"
    assert profile_types(df.where("false")) == _reference_types(pdf.iloc[:0])

    # 101 rows: an odd count of +0.5 offsets keeps sum_distinct fractional,
    # dodging the documented int-detector false-positive
    df = spark.range(101).select(
        *[
            (F.col("id") * (i + 1) + (0.5 if i % 4 == 2 else 0)).alias(f"c{i}")
            for i in range(20)
        ],
        (F.col("id") % 2).cast("double").alias("flag"),
    )
    full = profile_types(df)
    assert full == _reference_types(df.toPandas())
    assert full["flag"] == "bool" and full["c2"] == "float" and full["c0"] == "int"

    # more numeric columns (70, long and double) than one unpivot chunk
    wide = spark.range(31).select(
        *[
            (F.col("id") * (i + 1) + (0.5 if i % 3 == 1 else 0)).alias(f"w{i}")
            for i in range(70)
        ]
    )
    assert len(wide.columns) > R._UNPIVOT_CHUNK
    assert profile_types(wide) == _reference_types(wide.toPandas())


def test_melt_chunked_unpivot_equivalence(spark, monkeypatch):
    """r10 wide-path fix: past _UNPIVOT_CHUNK columns the melt chunks its
    unpivot into a union of narrow Expands (a single 600-col Expand falls
    off whole-stage codegen, ~4x per-row cost — scale_probe melt). The
    chunked form must be ROW-IDENTICAL to the single-unpivot form on a
    mixed-type 150-column frame, at several chunk widths including one
    that leaves a ragged tail."""
    n_each = 50  # 150 value columns: 50 float, 50 int, 50 str
    df = spark.range(40).select(
        F.col("id").alias("rssd"),
        *[
            F.when((F.col("id") + i) % 7 != 0, F.col("id") * 1.5 + i).alias(f"f{i}")
            for i in range(n_each)
        ],
        *[
            F.when((F.col("id") + i) % 5 != 0, F.col("id") * 3 + i).alias(f"i{i}")
            for i in range(n_each)
        ],
        *[
            F.when((F.col("id") + i) % 3 != 0, F.concat(F.lit("s"), F.col("id") + i)).alias(
                f"s{i}"
            )
            for i in range(n_each)
        ],
    )
    type_map = (
        {f"f{i}": "float" for i in range(n_each)}
        | {f"i{i}": "int" for i in range(n_each)}
        | {f"s{i}": "str" for i in range(n_each)}
    )

    def rows(chunk):
        monkeypatch.setattr(R, "_UNPIVOT_CHUNK", chunk)
        return sorted(
            tuple(r) for r in R.melt_to_eav(df, type_map, 20240630).collect()
        )

    single = rows(10_000)  # one unpivot per family — the pre-r10 shape
    assert single, "degenerate: empty melt"
    for chunk in (64, 7):  # default-sized and ragged-tail chunking
        assert rows(chunk) == single, f"chunk={chunk} diverged"
