"""Local replica of the driver's correctness gate.

Runs each ``queries()[name]`` on Spark at sf0.01 and the matching
``oracle_sql()[name]`` in DuckDB over the same parquet tables, then
compares row count, column names, and an order-insensitive multiset of
row values (floats exact-first, tolerance-second so drift is visible).

Usage: python tools/verify_local.py [name ...]   (default: all)
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb

import __spark_entry__ as entrymod
from geocore_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm_value(v):
    """Normalize recursively: NaN -> 'NaN' and bytes -> hex INSIDE
    array/struct columns too (a NaN element in an array<double> would
    otherwise defeat both compare passes — nan != nan; r4 review)."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_value(x)) for k, x in v.items()))
    return v


def _sort_key_value(v):
    # floats sort by a ROUNDED rendering so ~1e-12 drift cannot cross a
    # sort boundary and misalign the zipped tolerance pass (r4 review:
    # two approx-equal multisets must sort into the same order)
    if isinstance(v, float):
        return f"{v:.9e}"
    if isinstance(v, tuple):
        return tuple(_sort_key_value(x) for x in v)
    return str(v)


def _sort_key(row):
    return tuple(
        (v is None, type(v).__name__, _sort_key_value(v)) for v in row
    )


def _rows_to_multiset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(
        (tuple(_norm_value(r[i]) for i in order) for r in rows), key=_sort_key
    ), [colnames[i] for i in order]


def _approx_equal(a, b, tol=1e-6):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return abs(a - b) <= tol * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(
            _approx_equal(x, y, tol) for x, y in zip(a, b)
        )
    return a == b


def _unmatched_rows(sms, oms, idx):
    """Maximum bipartite matching between the spark rows ``sms[i]`` and
    the oracle rows ``oms[j]`` for i, j in ``idx``, edges being
    :func:`_approx_equal` — Kuhn's augmenting paths, iterative so a
    long path cannot hit the recursion limit. Tolerance is not
    transitive, so a first-fit pick can spend the oracle row a later
    spark row needed; augmenting re-routes earlier picks instead.
    Returns the spark rows left without a partner."""
    adj = [[j for j in idx if _approx_equal(sms[i], oms[j])] for i in idx]
    owner = {}  # oracle row -> position (in idx) of the spark row holding it
    held = {}  # position -> oracle row it holds
    unmatched = []
    for root in range(len(idx)):
        via = {}  # oracle row -> position whose search reached it
        stack, free = [root], None
        while stack and free is None:
            pos = stack.pop()
            for j in adj[pos]:
                if j in via:
                    continue
                via[j] = pos
                if j not in owner:
                    free = j
                    break
                stack.append(owner[j])
        if free is None:
            unmatched.append(sms[idx[root]])
            continue
        # flip the path root -> ... -> free: each spark row on it takes
        # the oracle row that reached it, releasing the one it held
        j = free
        while j is not None:
            pos = via[j]
            prev = held.get(pos)
            owner[j], held[pos] = pos, j
            j = prev
    return unmatched


def compare_rows(srows, scols, orows, ocols):
    """Order-insensitive multiset compare of collected rows with equal
    counts. Returns (how, unmatched): how is "exact", "approx" (zipped
    tolerance pass), "rematch" (tolerance-equal after re-matching the
    rows the zipped pass rejected) or "values" (``unmatched`` lists the
    spark rows with no oracle partner)."""
    sms, _ = _rows_to_multiset(srows, scols)
    oms, _ = _rows_to_multiset(orows, ocols)
    if sms == oms:
        return "exact", []
    mismatches = [
        i
        for i, (a, b) in enumerate(zip(sms, oms))
        if not all(_approx_equal(x, y) for x, y in zip(a, b))
    ]
    if not mismatches:
        return "approx", []
    # drift that straddles the rounded-rendering sort boundary can
    # misalign the zipped compare even though the multisets are
    # tolerance-equal: re-match only the rows the zipped pass rejected
    unmatched = _unmatched_rows(sms, oms, mismatches)
    return ("values" if unmatched else "rematch"), unmatched


def compare(name, spark, con) -> tuple[bool, str]:
    t0 = time.time()
    sdf = entrymod.queries()[name](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns
    t1 = time.time()
    ores = con.sql(entrymod.oracle_sql()[name])
    orows = [tuple(r) for r in ores.fetchall()]
    ocols = [d[0] for d in ores.description]
    t2 = time.time()
    timing = f"spark={t1 - t0:.1f}s duck={t2 - t1:.1f}s"
    if sorted(scols) != sorted(ocols):
        return False, f"SCHEMA spark={sorted(scols)} oracle={sorted(ocols)}"
    if len(srows) != len(orows):
        return False, f"ROWCOUNT spark={len(srows)} oracle={len(orows)} [{timing}]"
    how, unmatched = compare_rows(srows, scols, orows, ocols)
    if how == "exact":
        return True, f"OK exact {len(srows)} rows [{timing}]"
    if how == "approx":
        return True, f"OK approx (float drift, {len(srows)} rows) [{timing}]"
    if how == "rematch":
        return True, (
            f"OK approx (re-matched rows drifted across sort boundary, "
            f"{len(srows)} rows) [{timing}]"
        )
    return (
        False,
        f"VALUES {len(unmatched)}/{len(srows)} differ; first: {unmatched[0]}",
    )


def main():
    names = sys.argv[1:] or list(entrymod.queries())
    spark = get_spark("verify-local", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    failed = []
    oracles = entrymod.oracle_sql()
    for name in names:
        try:
            if name not in oracles:
                t0 = time.time()
                df = entrymod.queries()[name](spark, SF_DIR)
                n = df.count()
                ok, msg = True, f"OK rows-only {n} rows [spark={time.time() - t0:.1f}s]"
            else:
                ok, msg = compare(name, spark, con)
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"ERROR {type(e).__name__}: {str(e)[:400]}"
        status = "PASS" if ok else "FAIL"
        print(f"[{status}] {name}: {msg}", flush=True)
        if not ok:
            failed.append(name)
    print(f"\n{len(names) - len(failed)}/{len(names)} passed")
    if failed:
        print("failed:", " ".join(failed))
        sys.exit(1)


if __name__ == "__main__":
    main()
