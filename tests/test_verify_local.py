"""tools/verify_local.py's streaming compare (Spark-free): each side is a
row stream digested in one pass, exact-compared while small and
multiset-hash-compared past the row cap, with example rows recovered
from the mismatching hash bucket."""

from __future__ import annotations

import importlib.util
import os

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "verify_local.py"
)


def _verify_local():
    spec = importlib.util.spec_from_file_location("verify_local", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _stream(rows, passes):
    """A zero-argument row-stream factory that counts how often it is read."""

    def rows_fn():
        passes.append(1)
        return iter(rows)

    return rows_fn


def test_large_equal_results_compare_by_hash_in_one_pass():
    vl = _verify_local()
    spark = [(i, float(i) / 3, f"s{i % 7}") for i in range(5000)]
    # DuckDB side: reversed order, columns permuted, -0.0 for 0.0
    duck = [(s, v if v else -0.0, i) for i, v, s in reversed(spark)]
    sp, dp = [], []
    problems, n = vl.compare_streams(
        ["id", "v", "s"], _stream(spark, sp), ["s", "v", "id"], _stream(duck, dp), keep=100
    )
    assert problems == [] and n == 5000
    assert len(sp) == len(dp) == 1  # each side streamed once


def test_large_result_mismatch_names_the_differing_rows():
    vl = _verify_local()
    spark = [(i, float(i)) for i in range(3000)]
    duck = list(spark)
    duck[1234] = (1234, 1234.0000000000002)  # one ulp away
    sp, dp = [], []
    problems, _n = vl.compare_streams(
        ["id", "v"], _stream(spark, sp), ["id", "v"], _stream(duck, dp), keep=100
    )
    assert len(problems) == 1 and "multiset-hash" in problems[0]
    assert "spark-only sample: [(1234, 1234.0)]" in problems[0]
    assert "duckdb-only sample: [(1234, 1234.0000000000002)]" in problems[0]
    assert len(sp) == len(dp) == 2  # the second pass recovers the samples


def test_small_results_compare_exactly_and_count_rows():
    vl = _verify_local()
    rows = [(1, "a"), (2, "b")]
    assert vl.compare_streams(
        ["k", "x"], lambda: iter(rows), ["k", "x"], lambda: iter(rows[::-1])
    ) == ([], 2)
    problems, _n = vl.compare_streams(
        ["k", "x"], lambda: iter(rows), ["k", "x"], lambda: iter([(1, "a"), (2, "c")])
    )
    assert problems and problems[0].startswith("values differ; first diffs")
    problems, _n = vl.compare_streams(
        ["k", "x"], lambda: iter(rows), ["k", "x"], lambda: iter(rows[:1])
    )
    assert problems == ["rowcount spark=2 duckdb=1"]
    # a multiset, not a set: a duplicated row on one side is a difference
    problems, _n = vl.compare_streams(
        ["k"], lambda: iter([(1,), (1,), (2,)] * 50), ["k"],
        lambda: iter([(1,), (2,), (2,)] * 50), keep=10,
    )
    assert problems and "multiset-hash" in problems[0]
