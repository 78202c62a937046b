"""Local replica of the driver's t2 correctness gate.

Runs every `queries()[name]` on Spark at sf0.01 and the matching
`oracle_sql()[name]` on DuckDB over the same parquet, then compares:
  - row count
  - column-name set
  - order-insensitive value comparison (rows sorted after sorting columns
    by name), exact on non-floats, exact-bits on floats (the driver hashes,
    so we must be bit-identical — engine queries use DECIMAL internally to
    guarantee this).
Both results are streamed (Spark `toLocalIterator`, DuckDB `fetchmany`)
into a row count and an order-insensitive hash; rows are kept in memory
only up to `_EXACT_COMPARE_MAX_ROWS` for the exact compare.

Usage: python tools/verify_local.py [name ...]   (default: all)
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF_DIR = os.environ.get("SPARK_GRAFT_VERIFY_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def _canon(v):
    """Canonicalize a cell for comparison."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # signed-zero canon: the exact path compares with == (-0.0 == 0.0)
        # but the multiset-hash path keys on repr (repr(-0.0) != repr(0.0));
        # +0.0 collapses -0.0 so both paths agree
        return v + 0.0
    if isinstance(v, list):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def _col_order(cols):
    return sorted(range(len(cols)), key=lambda i: cols[i])


def _rowset(cols, rows):
    idx = _col_order(cols)
    return sorted(
        (tuple(_canon(r[i]) for i in idx) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


# Above this row count, skip the exact sorted-multiset comparison (its
# Python sort key is O(n log n) with per-cell string tuples — ~25 min and
# tens of GB on the 9M-row sf0.1 wide melt) and compare an order-insensitive
# COMMUTATIVE hash instead: sum of per-row md5 over the canonical repr.
# Python's float repr is shortest-round-trip, so bit-different doubles hash
# differently — the exact-bits discipline is preserved. Both sides are
# STREAMED into the hash (Spark `toLocalIterator`, DuckDB `fetchmany`), so
# a result of any size holds at most this many rows in memory: a full
# collect of the 33M-row sf0.1 `melt_wide60` killed the JVM.
_EXACT_COMPARE_MAX_ROWS = int(os.environ.get("SPARK_GRAFT_VERIFY_EXACT_MAX", "200000"))
_FETCH_ROWS = 10_000


def _digest(idx, r) -> tuple[bytes, tuple]:
    t = tuple(_canon(r[i]) for i in idx)
    return hashlib.md5(repr(t).encode()).digest(), t


def _digest_stream(cols, rows, keep: int):
    """One pass over a row stream: (row count, 256 per-bucket multiset
    hashes keyed by each row digest's first byte, the rows themselves when
    there are at most `keep` of them, else None). Each bucket is the sum
    of its rows' md5 digests, so it is order-insensitive, and a mismatch
    names the 1/256 slice to search for example rows."""
    idx = _col_order(cols)
    n, buckets, kept = 0, [0] * 256, []
    for r in rows:
        d, _t = _digest(idx, r)
        buckets[d[0]] += int.from_bytes(d, "big")
        n += 1
        if kept is not None:
            if n > keep:
                kept = None
            else:
                kept.append(r)
    return n, buckets, kept


def _bucket_diff_samples(scols, srows, dcols, drows, buckets: set, limit: int = 3):
    """Rows present on one side only, among those whose digest falls in
    `buckets` (a 1/256 slice of each stream per bucket, so memory stays
    bounded)."""
    from collections import Counter

    def _counter(cols, rows):
        idx = _col_order(cols)
        c: Counter = Counter()
        rep = {}
        for r in rows:
            d, t = _digest(idx, r)
            if d[0] in buckets:
                c[d] += 1
                rep.setdefault(d, t)
        return c, rep

    sc, srep = _counter(scols, srows)
    dc, drep = _counter(dcols, drows)
    only_s = [srep[d] for d in (sc - dc)][:limit]
    only_d = [drep[d] for d in (dc - sc)][:limit]
    return only_s, only_d


def compare_streams(scols, spark_rows, dcols, duck_rows, keep: int = _EXACT_COMPARE_MAX_ROWS):
    """Problems (empty when equal) between a Spark and a DuckDB result.
    `spark_rows` / `duck_rows` are zero-argument callables that each
    return a fresh row iterator; each side is streamed once, and once
    more only to recover example rows after a hash mismatch. Returns
    (problems, spark row count)."""
    sn, sb, skept = _digest_stream(scols, spark_rows(), keep)
    dn, db, dkept = _digest_stream(dcols, duck_rows(), keep)
    problems = []
    if sn != dn:
        problems.append(f"rowcount spark={sn} duckdb={dn}")
    if sorted(scols) != sorted(dcols):
        problems.append(f"columns spark={sorted(scols)} duckdb={sorted(dcols)}")
    if problems:
        return problems, sn
    if skept is not None and dkept is not None:
        sset, dset = _rowset(scols, skept), _rowset(dcols, dkept)
        if sset != dset:
            diffs = [(a, b) for a, b in zip(sset, dset) if a != b][:3]
            problems.append(f"values differ; first diffs: {diffs}")
    elif sb != db:
        # a changed row usually moves between two buckets: search both
        buckets = set([b for b in range(256) if sb[b] != db[b]][:2])
        only_s, only_d = _bucket_diff_samples(scols, spark_rows(), dcols, duck_rows(), buckets)
        problems.append(
            "values differ (multiset-hash compare, large result); "
            f"spark-only sample: {only_s}; duckdb-only sample: {only_d}"
        )
    return problems, sn


def main(names: list[str]) -> int:
    from scripts_toolkit_spark.session import get_spark
    import __spark_entry__ as e

    spark = get_spark("verify-local")
    qs, oracles = e.queries(), e.oracle_sql()
    if names:
        unknown = [n for n in names if n not in qs]
        if unknown:
            print(f"ERROR: unknown query name(s): {', '.join(unknown)}")
            print(f"valid names: {', '.join(sorted(qs))}")
            return 2
        qs = {k: v for k, v in qs.items() if k in names}

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    failed, passed, weak = [], [], []
    for name, fn in sorted(qs.items()):
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
        except Exception as ex:  # noqa: BLE001
            failed.append((name, f"spark error: {ex}"))
            print(f"FAIL {name}: spark error: {ex}")
            continue

        def spark_rows(sdf=sdf):
            # a rebalance bounds each partition near AQE's advisory size:
            # `toLocalIterator` fetches one partition per job, and a
            # 33M-row single partition overflows spark.driver.maxResultSize
            rebalanced = sdf.hint("rebalance")
            return (tuple(r) for r in rebalanced.toLocalIterator(prefetchPartitions=True))

        if name not in oracles:
            try:
                n = sdf.count()
            except Exception as ex:  # noqa: BLE001
                failed.append((name, f"spark error: {ex}"))
                print(f"FAIL {name}: spark error: {ex}")
                continue
            weak.append(name)
            print(f"weak {name}: rows={n} (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            pending = [con.execute(oracles[name])]
            dcols = [d[0] for d in pending[0].description]
        except Exception as ex:  # noqa: BLE001
            failed.append((name, f"duckdb error: {ex}"))
            print(f"FAIL {name}: duckdb error: {ex}")
            continue

        def duck_rows(sql=oracles[name], pending=pending):
            # the first pass reads the result already executed above
            res = pending.pop() if pending else con.execute(sql)
            return (r for batch in iter(lambda: res.fetchmany(_FETCH_ROWS), []) for r in batch)

        try:
            problems, n = compare_streams(scols, spark_rows, dcols, duck_rows)
        except Exception as ex:  # noqa: BLE001
            failed.append((name, f"error: {ex}"))
            print(f"FAIL {name}: error: {ex}")
            continue
        if problems:
            failed.append((name, "; ".join(problems)))
            print(f"FAIL {name}: {'; '.join(problems)}")
        else:
            passed.append(name)
            print(f"ok   {name}: rows={n} [{time.time()-t0:.1f}s]")

    print(f"\n{len(passed)} ok, {len(weak)} weak (rows-only), {len(failed)} FAILED of {len(qs)}")
    for n, msg in failed:
        print(f"  FAILED {n}: {msg}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
