"""Unit tests for tools/verify_local's multiset comparator helpers.

The comparator is evidence infrastructure: a bug here silently green-lights
a wrong oracle (or red-flags a right one). Pins the r4-ADVICE fix — drift
that straddles the rounded-rendering sort boundary (9.999999995e-01 vs
1.000000001e+00) misaligns the zipped tolerance pass; the re-match
fallback must still pass those rows, while genuinely different values must
still fail. The re-match is a maximum bipartite matching because tolerance
is not transitive: a first-fit pick can strand a row that had a partner.
"""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]
spec = importlib.util.spec_from_file_location(
    "_vl", _REPO / "tools" / "verify_local.py"
)
_vl = importlib.util.module_from_spec(spec)
# verify_local imports __spark_entry__ at module load (cheap: no session)
sys.path.insert(0, str(_REPO))
spec.loader.exec_module(_vl)


def _compare_rowsets(srows, orows, cols):
    """Drive the post-collect half of _vl.compare on in-memory rows."""
    how, _ = _vl.compare_rows(srows, cols, orows, cols)
    return how != "values", how


def test_exact_match():
    rows = [(1, 2.5), (2, 3.5)]
    assert _compare_rowsets(rows, list(reversed(rows)), ["a", "b"]) == (
        True,
        "exact",
    )


def test_small_drift_same_order():
    s = [(1, 1.0), (2, 2.0)]
    o = [(1, 1.0 + 1e-12), (2, 2.0 - 1e-12)]
    ok, how = _compare_rowsets(s, o, ["a", "b"])
    assert ok and how in ("approx", "exact")


def test_boundary_straddle_greedy_rematch():
    """The ADVICE scenario: two float values tolerance-equal but rendering
    to different 9-sig-digit strings on either side of 1.0, so the sorted
    multisets interleave differently and the zipped pass misaligns."""
    lo, hi = 9.999999995e-01, 1.000000001e00
    assert abs(lo - hi) <= 1e-6 * max(1.0, lo, hi)
    assert f"{lo:.9e}" != f"{hi:.9e}"
    # spark renders (lo, X); oracle renders (hi, X') with X far from lo/hi
    s = [(lo,), (2.0,)]
    o = [(hi,), (2.0,)]
    ok, how = _compare_rowsets(s, o, ["v"])
    assert ok, "tolerance-equal multisets must pass"


def test_straddle_with_interleaving_rows():
    """Sort-order inversion across rows: spark sorts [0.9999…, 1.0000001]
    one way, oracle the other — every zipped pair mismatches but the
    multisets match greedily."""
    s = [(9.999999995e-01, "a"), (1.000000001e00, "b")]
    o = [(1.000000000e00, "a"), (9.999999999e-01, "b")]
    ok, _ = _compare_rowsets(s, o, ["v", "k"])
    assert ok


def test_genuine_mismatch_still_fails():
    s = [(1.0,), (2.0,)]
    o = [(1.0,), (2.5,)]
    ok, how = _compare_rowsets(s, o, ["v"])
    assert not ok and how == "values"


def test_greedy_does_not_double_match():
    """One oracle row cannot satisfy two spark rows: [1.0, 1.0] vs
    [1.0, 5.0] must fail even though each spark row approx-matches the
    single 1.0."""
    s = [(1.0,), (1.0 + 1e-10,)]
    o = [(1.0,), (5.0,)]
    ok, _ = _compare_rowsets(s, o, ["v"])
    assert not ok


def test_rematch_is_not_first_fit():
    """Tolerance is not transitive (tol = 1e-6 here): spark row s1
    (y=4e-7) is within tolerance of two oracle rows, o2 (y=0) and
    o3 (y=8e-7), while s3 (y=-6e-7) matches only o2. The ``a`` column
    orders the rows so every zipped pair mismatches and first-fit hands
    o2 to s1, stranding s3. The multisets ARE tolerance-equal
    (s1-o3, s2-o1, s3-o2), so the compare must pass."""
    s = [(1.00000001, 4e-7), (1.00000002, 1e-5), (1.00000003, -6e-7)]
    o = [(1.00000001, 1e-5), (1.00000002, 0.0), (1.00000003, 8e-7)]
    ok, how = _compare_rowsets(s, o, ["a", "y"])
    assert (ok, how) == (True, "rematch")
